"""Statistics the benchmark reports: medians, percentiles with their
sample counts, and failure fractions."""
import hashlib
import math

# percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(values):
    """Geometric mean: every op kind weighs the same whatever its scale."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten of `n`
    samples beyond it; the median when there are too few samples for
    any tail."""
    for p in TAIL_LADDER:
        # in tenths of a percent, so the comparison is exact
        if n * (1000 - round(p * 10)) >= 10 * 1000:
            return p
    return 50.0


def tail(values):
    """(percentile, value, sample count) of the reportable tail."""
    p = tail_percentile(len(values))
    return p, percentile(values, p), len(values)


def failed_frac(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed count outside [0, attempted]")
    return failed / attempted


def count_failures(ops, checks_failed, expected, got):
    """Failures of one run: ops that raised, output checks that failed
    inside the JVM, and query results whose (rows, digest) differ from
    the expected ones (a wrong result is a failure like an error).
    Returns (attempted, failed, messages)."""
    attempted = len(ops) + len(expected)
    failed = sum(1 for op in ops if not op[2]) + checks_failed
    msgs = []
    for q, want in sorted(expected.items()):
        have = got.get(q)
        if have is None or list(have) != list(want):
            failed += 1
            msgs.append(f"{q}: got {have} expected {want}")
    return attempted, failed, msgs


def canon_float(v):
    """A float as the query digests canonicalize it: Python's repr."""
    return repr(float(v))


def canon_rows(columns, rows):
    """Order-insensitive canonical form of a result, as the JVM computes
    it: columns in name order, cells canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "None"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return canon_float(v)
        return str(v)
    lines = sorted("\x01".join(cell(r[i]) for i in order) for r in rows)
    return ["\x01".join(sorted(columns))] + lines


def digest_rows(columns, rows):
    """(row count, sha256) of a result, matching the JVM's digest for
    results of scalar columns."""
    h = hashlib.sha256()
    for line in canon_rows(columns, rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()
