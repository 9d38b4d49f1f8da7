package graft.engine

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions.col

/** The crash matrix of [[AtomicDir.replace]]: a process killed before
  * any mutating FS call of a publish must leave the dir holding
  * exactly its old or exactly its new content once [[AtomicDir
  * .recover]] has run — never neither — and the next publish must
  * clear whatever the crash left behind.
  */
class AtomicDirSpec extends SparkTestBase {

  /** The local FS with a fuse: the `dieAt`-th mutating call (rename or
    * delete) and every later one throw, as if the process died there —
    * so no rollback runs either. `dieAt = 0` never dies; `calls`
    * counts the mutating calls made.
    */
  private class CrashingFs(real: FileSystem, dieAt: Int)
      extends FilterFileSystem(real) {
    var calls = 0
    private def tick(): Unit = {
      calls += 1
      if (dieAt > 0 && calls >= dieAt)
        throw new java.io.IOException(s"simulated crash at call $calls")
    }
    override def rename(src: Path, dst: Path): Boolean = {
      tick(); super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      tick(); super.delete(p, recursive)
    }
  }

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Children of `parent` other than checksum files. */
  private def children(fs: FileSystem, parent: String): Set[String] =
    fs.listStatus(new Path(parent)).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet

  /** A crashed process's lease is taken over once its pid is gone
    * (CompactorSpec pins that); here the "dead" process is this one,
    * so the takeover is done by hand.
    */
  private def dropDeadLease(fs: FileSystem, dir: String): Unit =
    fs.delete(StoreLease.leasePath(dir), false)

  /** Runs `crash` once per mutating call it makes (the count comes
    * from a run that never dies), each time on a fresh `setup()`;
    * `target` names the dir the crashed publish leased.
    */
  private def crashMatrix(setup: () => String, target: String => String)(
      crash: (FileSystem, String) => Unit)(
      check: String => Unit): Int = {
    val dry = setup()
    val counter = new CrashingFs(fsOf(dry), 0)
    crash(counter, dry)
    assert(counter.calls >= 4, s"only ${counter.calls} mutating calls")
    for (k <- 1 to counter.calls) {
      val dir = setup()
      val dying = new CrashingFs(fsOf(dir), k)
      val e = intercept[java.io.IOException](crash(dying, dir))
      assert(e.getMessage.contains("simulated crash"), s"k=$k: $e")
      dropDeadLease(fsOf(dir), target(dir))
      check(dir)
    }
    counter.calls
  }

  test("crash matrix, flat dir: after a crash at any mutating call, " +
    "recover yields exactly the old or the new copy (sidecar kept), " +
    "and the next replace clears the leftovers") {
    val seen = scala.collection.mutable.Set.empty[String]
    def setup(): String = {
      val dir = tmpDir("atomic") + "/store"
      val fs = fsOf(dir)
      writeText(fs, new Path(dir, "part-0"), "old")
      writeText(fs, new Path(dir, "_info"), "meta")
      dir
    }
    def publish(fs: FileSystem, dir: String, text: String): Unit =
      AtomicDir.replace(fs, dir) { stage =>
        writeText(fsOf(stage), new Path(stage, "part-0"), text)
      }
    val calls = crashMatrix(() => setup(), identity)(publish(_, _, "new")) { dir =>
      val fs = fsOf(dir)
      AtomicDir.recover(fs, dir)
      val got = readText(fs, new Path(dir, "part-0"))
      assert(got == "old" || got == "new", s"dir holds '$got'")
      assert(readText(fs, new Path(dir, "_info")) == "meta",
        "sidecar lost")
      seen += got
      publish(fs, dir, "next")
      assert(readText(fs, new Path(dir, "part-0")) == "next")
      assert(readText(fs, new Path(dir, "_info")) == "meta")
      assert(children(fs, new Path(dir).getParent.toString) == Set("store"),
        "stage, __old or lease left behind")
    }
    // the matrix crosses the swap: early crashes keep the old copy,
    // late ones the new
    assert(seen == Set("old", "new"), s"$seen over $calls crash points")
  }

  test("crash matrix, partitioned Compactor destination: a crashed " +
    "partition rewrite never loses or duplicates a partition, and the " +
    "next compact restores and tidies it") {
    val seen = scala.collection.mutable.Set.empty[Int]
    def setup(): String = {
      val root = tmpDir("atomic-part") + "/t"
      spark.range(0, 40).select(col("id"), (col("id") % 2 + 1).as("p"))
        .repartition(4).write.partitionBy("p").parquet(root)
      root
    }
    def ids(dir: String): Set[(Long, Int)] =
      spark.read.parquet(dir).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Int]("p"))).toSet
    val expected = (0L until 40L).map(i => (i, (i % 2 + 1).toInt)).toSet
    // the per-partition rewrite Compactor.compact runs
    def rewriteP1(fs: FileSystem, root: String): Unit = {
      val p1 = s"$root/p=1"
      AtomicDir.replace(fs, p1) { stage =>
        spark.read.parquet(p1).coalesce(1).write.parquet(stage)
      }
    }
    crashMatrix(() => setup(), root => s"$root/p=1")(rewriteP1) { root =>
      val fs = fsOf(root)
      val p1 = s"$root/p=1"
      AtomicDir.recover(fs, p1)
      val files = Compactor.dataFiles(fs, new Path(p1)).length
      assert(spark.read.parquet(p1).count() == 20,
        s"partition p=1 lost rows ($files files)")
      seen += math.min(files, 2) // 1 = new copy, >1 = old
      Compactor.compact(spark, root, targetBytes = 1L << 30)
      assert(children(fs, root) == Set("p=1", "p=2", "_SUCCESS"),
        s"leftovers: ${children(fs, root)}")
      assert(ids(root) == expected, "compacted table differs")
    }
    assert(seen == Set(1, 2), s"crash points hit only $seen")
  }

  test("recover racing 50 replaces in another thread: no failure, and " +
    "every read sees a complete version") {
    val dir = tmpDir("atomic-race") + "/store"
    val fs = fsOf(dir)
    val v = new Path(dir, "v")
    writeText(fs, v, "0")
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      var last = 0
      while (!done) {
        try {
          AtomicDir.recover(fs, dir)
          // a complete version is visible whenever no rename is in
          // flight: read under the lock the renames hold
          val got = AtomicDir.lock.synchronized(readText(fs, v)).toInt
          if (got < last) failures.add(s"went back from $last to $got")
          last = got
        } catch { case e: Throwable => failures.add(e.toString) }
      }
    })
    // renames that take milliseconds, as on an object store: the
    // window between the publish's two renames is then wide open
    val slow = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = {
        val ok = super.rename(src, dst); Thread.sleep(2); ok
      }
    }
    reader.start()
    try {
      for (i <- 1 to 50) {
        AtomicDir.replace(slow, dir) { stage =>
          writeText(fs, new Path(stage, "v"), i.toString)
        }
        // a recovery that ran mid-publish would have put the previous
        // copy back and let the rename land the stage INSIDE it
        val now = readText(fs, v)
        if (now != i.toString) failures.add(s"publish $i left '$now'")
      }
    } finally { done = true; reader.join() }
    assert(failures.isEmpty, failures.toString)
    assert(readText(fs, v) == "50")
    assert(children(fs, new Path(dir).getParent.toString) == Set("store"))
  }
}
