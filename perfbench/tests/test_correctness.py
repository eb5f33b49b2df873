from types import SimpleNamespace

from perfbench.worker import Runner, digest


def test_digest_sees_any_changed_value(spark):
    base = spark.range(1000).selectExpr("id", "id * 2 AS v")
    changed = base.selectExpr("id", "IF(id = 517, v + 1, v) AS v")
    assert digest(base) == digest(spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert digest(base) != digest(changed)
    assert digest(base) != digest(base.filter("id != 3"))


def test_runner_counts_mismatch_exception_and_missing_reference_as_failed(spark):
    out = {"ok": lambda s, d: s.range(10).toDF("x")}
    ref = digest(spark.range(10).toDF("x"))
    runner = Runner(spark, "unused", {"ok": ref, "boom": ref})
    runner.registry = {
        "ok": SimpleNamespace(fn=lambda s, d: out["ok"](s, d)),
        "boom": SimpleNamespace(fn=lambda s, d: 1 / 0),
        "unrecorded": SimpleNamespace(fn=lambda s, d: s.range(10).toDF("x")),
    }
    runner.run_pass(["ok", "boom", "unrecorded"], "p0")
    assert (runner.attempted, runner.failed) == (3, 2)
    # A changed output on a later pass is caught against the reference.
    out["ok"] = lambda s, d: s.range(11).toDF("x")
    recs = runner.run_pass(["ok"], "p1")
    assert not recs[0]["ok"] and runner.failed == 3


def test_recorded_reference_is_enforced(spark):
    runner = Runner(spark, "unused", {"q": "10:0"})
    runner.registry = {"q": SimpleNamespace(fn=lambda s, d: s.range(10).toDF("x"))}
    recs = runner.run_pass(["q"], "p0")
    assert not recs[0]["ok"] and runner.failed == 1


def test_sweep_gate_sweeps_only_when_no_query_is_live():
    import threading

    from perfbench.worker import SweepGate

    gate = SweepGate()
    sweeps = []
    gate.enter()
    gate.enter()
    assert gate.leave(lambda: sweeps.append(1) or {"swept": True}) == {}
    assert not sweeps
    # While the last query's sweep runs, a new query waits for it.
    in_sweep, release = threading.Event(), threading.Event()
    order = []

    def sweep():
        in_sweep.set()
        release.wait(5)
        order.append("sweep")
        return {"swept": True}

    t = threading.Thread(target=lambda: order.append(gate.leave(sweep)))
    t.start()
    in_sweep.wait(5)
    entered = threading.Thread(target=lambda: (gate.enter(), order.append("enter")))
    entered.start()
    entered.join(0.2)
    assert "enter" not in order
    release.set()
    t.join(5)
    entered.join(5)
    assert order[0] == "sweep" and "enter" in order


def test_concurrent_pass_checks_every_output(spark):
    from perfbench.worker import concurrent_pass

    ref = {f"q{i}": digest(spark.range(10 + i).toDF("x")) for i in range(3)}
    runner = Runner(spark, "unused", ref)
    runner.registry = {
        f"q{i}": SimpleNamespace(fn=lambda s, d, n=10 + i: s.range(n).toDF("x")) for i in range(3)
    }
    m = concurrent_pass(runner, sorted(ref), seed=7)
    assert (runner.attempted, runner.failed) == (3, 0)
    assert m["concurrent.qpm"] > 0 and m["concurrent.latency_p50_s"] > 0
