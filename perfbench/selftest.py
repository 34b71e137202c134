"""The benchmark's self-test: input determinism and the statistics it reports.

Usage: python3 perfbench/selftest.py   (exit code 0 when every check holds)

run.py runs it before every measurement, in the run's own directory, with
the digest check limited to the workload it measures.
"""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


def check(cond, what):
    if not cond:
        raise AssertionError("perfbench self-test: " + what)


def test_digests(tmp, workloads):
    for w in workloads:
        d = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            out = os.path.join(tmp, w + tag)
            gen.generate(w, seed, out, scale=0.002)
            d[tag] = gen.digest(out)
            shutil.rmtree(out)
        check(d["a"] == d["b"], f"{w}: the same seed gave different inputs")
        check(d["a"] != d["c"], f"{w}: different seeds gave the same inputs")


def test_percentiles():
    xs = [float(v) for v in range(40, 0, -1)]  # 40 samples, unsorted
    check(stats.nearest_rank(xs, 50) == (20.0, 20), "p50 of 1..40")
    check(stats.nearest_rank(xs, 75) == (30.0, 10), "p75 of 1..40")
    check(stats.nearest_rank(xs, 90) == (36.0, 4), "p90 of 1..40")
    rec = {"workload": "tdf_book_many", "setup_jvm_s": 1.0, "rows_per_op": 10, "loop_s": 4.0,
           "loop_cpu_s": 8.0, "peak_rss_mb": 100.0,
           "ops": [{"wall_s": x, "failures": [] if x > 1 else ["bad"]} for x in xs]}
    m = stats.end_to_end(rec, 0.5)
    check(m["op_tail_s"][0] == 30.0, "op_tail_s picks p75")
    check(m["op_p50_s"][0] == 20.5, "op_p50_s is the median")
    check(m["ok_frac"][0] == 39 / 40, "ok_frac counts failed ops")
    check(m["setup_s"][0] == 1.5, "setup_s adds generation and JVM set-up")


def test_spans():
    sp = lambda name, s, e: {"name": name, "start": s, "end": e}
    spans = [sp("op", 0, 100), sp("tdf.book", 0, 20), sp("tdf.deref", 25, 95),
             sp("exec.job", 30, 60), sp("exec.job", 50, 90), sp("catalyst.planning", 26, 29)]
    st = stats.self_times(spans)
    check(abs(st["bench"] - 0.010) < 1e-12, "op self time is the uncovered 10 ms")
    check(abs(st["tdf"] - (0.020 + 0.070 - 0.063)) < 1e-12, "tdf self time")
    check(abs(st["exec"] - 0.070) < 1e-12, "overlapping jobs keep their own time")
    check(abs(stats.coverage(spans) - 0.90) < 1e-12, "layer coverage of the op")


def main(tmp=None, workloads=tuple(gen.GENERATORS)):
    own = tmp is None
    tmp = tmp or tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.getcwd())
    try:
        test_digests(tmp, workloads)
        test_percentiles()
        test_spans()
    finally:
        if own:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
    print("perfbench self-test: ok")
