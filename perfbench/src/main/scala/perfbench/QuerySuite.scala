package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** query_suite: one timed pass over 24 named queries in a seeded
  * order, with Bench's per-query state reset. Each
  * query is timed as build (the call to its function) plus exec (the
  * `collect` of its result). Each result's row count and digest are then
  * recorded, untimed, for the runner to compare with
  * `expected_queries.json`.
  */
object QuerySuite {
  /** The control: relational queries (scan/aggregate, joins, semi and
    * outer joins, AsOf and range joins, sketch aggregators) that the
    * ROADMAP's query-plane changes bypass.
    */
  val Relational: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_topn", "q05_region_revenue",
    "q13_outer_distribution", "q18_large_orders", "q21_sole_late_supplier",
    "ev05_asof_join", "ev08_range_join", "ev13_user_overlap_kmv",
    "e08_integrity_quantiles")
  /** The corpus queries: probes, ANN, k-means, PCA, hybrid retrieval
    * and dedup clusters. x35, x42, x43, s08, s13, s25, s28, d08 and d17
    * are the ROADMAP's targets.
    */
  val Corpus: Seq[String] = Seq(
    "x35_quality_probe", "x42_probe_auc", "x43_langid_probe", "s03_ann_ivf", "s05_kmeans",
    "s07_ann_pq", "s08_ann_ivfpq", "s10_cluster_sample", "s13_pca_project", "s17_ann_index",
    "s25_hybrid_rerank", "s28_hybrid_mmr", "d08_dup_clusters", "d17_cluster_sizes")
  /** The ROADMAP's targets, reported query by query. */
  val Targets: Seq[String] = Seq("x43", "x42", "x35", "s08", "s13", "s25", "s28", "d08", "d17")

  /** Run once, untimed, before the pass. */
  val SetupQuery = "s25_hybrid_rerank"

  def shortId(q: String): String = q.takeWhile(_ != '_')
  def set(q: String): String = if (Relational.contains(q)) "relational" else "corpus"

  def run(env: Env): Unit = {
    val spark = env.spark
    val dir = env.corpus
    val fns = SparkEntry.queries
    val all = Relational ++ Corpus
    val r = env.res

    // setup: one untimed query builds the persisted BM25 and vector
    // stores that s25 and s28 serve from (under the run's fresh
    // java.io.tmpdir), so the timed pass measures serving, and absorbs
    // the first-use cost of the SQL machinery, so the seeded order does
    // not decide which query pays it
    env.phase("setup_query")(fns(SetupQuery)(spark, dir).collect())

    // (query, build s, exec s) of every timed query
    val timings = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val unitS = env.measure {
      env.rng.shuffle(all).foreach { q =>
        env.resetState()
        val t0 = System.nanoTime()
        var t1 = t0
        val rows = try {
          env.trace.span("queries", "query", q) {
            val df = env.trace.span("queries", "build", q)(fns(q)(spark, dir))
            t1 = System.nanoTime()
            Some((df.columns.toSeq, env.trace.span("queries", "exec", q)(df.collect().toSeq)))
          }
        } catch { case e: Throwable => r.note(s"$q failed: $e"); None }
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        r.op(q, (t2 - t0) / 1e6, rows.isDefined)
        timings += ((q, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        rows.foreach { case (cols, rs) =>
          r.info(s"digest.$q") = Digest.ofRows(cols, rs).productIterator.toSeq
        }
      }
    } { _ => () }

    for (s <- Seq("relational", "corpus"))
      r.value(s"query_${s}_s", timings.filter(t => set(t._1) == s).map(t => t._2 + t._3).sum)

    if (env.traced) {
      env.drain()
      val spans = env.trace.allSpans
      val children = (spans ++ env.trace.sparkJobs).groupBy(_.parent)
      val L = r.layers
      // per query: build/exec/plan seconds, executions, jobs, shuffle MB
      val perQuery = spans.filter(_.name == "query").map { s =>
        val kids = children.getOrElse(s.id, Nil)
        def secs(name: String) = kids.filter(_.name == name).map(_.durNs).sum / 1e9
        val (planS, executions) = env.trace.planWithin(s)
        val c = env.trace.countersUnder(s, children)
        s.op -> Map(
          "build_s" -> secs("build"), "exec_s" -> secs("exec"),
          "plan_s" -> planS, "executions" -> executions.toDouble, "jobs" -> c.jobs.toDouble,
          "shuffle_mb" -> (c.shuffleRead + c.shuffleWrite) / 1048576.0)
      }.toMap
      perQuery.toSeq.sortBy(_._1).foreach { case (q, m) =>
        r.info(s"query.$q") = Json.Obj(m.toSeq)
      }
      for (s <- Seq("relational", "corpus"); k <- Seq("build_s", "exec_s", "plan_s", "executions", "jobs"))
        L(s"queries.$s.$k") = perQuery.filter(p => set(p._1) == s).values.map(_(k)).sum
      for (q <- Corpus if Targets.contains(shortId(q)); k <- Seq("build_s", "exec_s", "jobs"))
        L(s"query.${shortId(q)}.$k") = perQuery.get(q).map(_(k)).getOrElse(0.0)
    }
    Layers.report(env, unitS)
  }
}
