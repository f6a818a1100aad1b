"""A failing or corrupted operation counts against error_rate and the
run goes on; no Spark needed."""

import contextlib

import child
import run
from workloads import _expect


class _NoTrace:
    def begin_op(self, i):
        pass

    def end_op(self, extra=None):
        pass

    def call(self, name):
        return contextlib.nullcontext()


class _Fake:
    ROUND, COLD = 3, 1

    def kind(self, i):
        return "op"

    def rows(self, i):
        return 10

    def written(self, i, out):
        return None

    def run(self, i):
        if i == 2:
            raise RuntimeError("engine failed")
        out = {"n": i}
        if i == 3:
            out = {"n": -1}  # corrupted output
        if i == 4:
            out = {"wrong": "shape"}  # so corrupted the check itself breaks
        return out

    def check(self, i, out):
        _expect(out["n"] == i, "n")


def test_bad_ops_raise_error_rate_without_crashing():
    ops, outs, setup_s = child.run_ops(_Fake(), _NoTrace(), 0.0, False,
                                       lambda: None, t0=0.0)
    assert [o["i"] for o in ops] == [0, 1, 2, 3]  # cold op + one round
    child.check_ops(_Fake(), ops, outs)
    assert [o["ok"] for o in ops] == [True, True, False, False]
    assert "engine failed" in ops[2]["error"]
    assert "Mismatch" in ops[3]["error"]
    res = {"ops": ops, "setup_s": setup_s, "cold": 1, "peak_rss_bytes": 1 << 20}
    e2e, counts = run.end_to_end(res)
    assert counts["ops"] == 3
    assert e2e["rows_per_s"] > 0


def test_check_that_raises_any_exception_is_a_failure():
    ops = [{"i": 4}]
    child.check_ops(_Fake(), ops, [{"wrong": "shape"}])
    assert ops[0]["ok"] is False and "KeyError" in ops[0]["error"]
