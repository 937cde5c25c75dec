"""Redirect-chain resolution (f21): pointer doubling over the 3xx
edge table — chain landing, inclusive max-hops boundary, cycles,
self-loops, over-long chains, fan-in."""

from hepcrawl_spark.frontier.redirects import _double, resolve_redirects


def _edges(spark, pairs):
    return spark.createDataFrame(
        list(pairs), "url string, redirect_to string")


def _chain(name, length):
    """length edges: name/length -> ... -> name/0 (terminal)."""
    return [(f"{name}/{s}", f"{name}/{s - 1}")
            for s in range(length, 0, -1)]


def test_chains_resolve_with_exact_hops(spark):
    pairs = _chain("a", 1) + _chain("b", 4) + _chain("c", 8)
    out = {r.url: r for r in
           resolve_redirects(_edges(spark, pairs), max_hops=8).collect()}
    assert len(out) == 1 + 4 + 8
    for name, length in (("a", 1), ("b", 4), ("c", 8)):
        for s in range(1, length + 1):
            r = out[f"{name}/{s}"]
            assert r.resolved, r
            assert r.final_url == f"{name}/0"
            assert r.hops == s


def test_chain_longer_than_max_hops_is_unresolved(spark):
    out = {r.url: r for r in
           resolve_redirects(_edges(spark, _chain("x", 9)),
                             max_hops=8).collect()}
    # hops 1..8 from the tail resolve; the head (9 hops) does not
    assert out["x/8"].resolved and out["x/8"].hops == 8
    r = out["x/9"]
    assert not r.resolved
    assert r.final_url is None and r.hops is None


def test_cycles_never_resolve(spark):
    pairs = [("c1", "c2"), ("c2", "c1"),            # 2-cycle
             ("s", "s"),                            # self-loop
             ("in", "c1"),                          # chain INTO a cycle
             ("ok", "t")]                           # control
    out = {r.url: r for r in
           resolve_redirects(_edges(spark, pairs), max_hops=8).collect()}
    for u in ("c1", "c2", "s", "in"):
        assert not out[u].resolved, u
        assert out[u].final_url is None and out[u].hops is None
    assert out["ok"].resolved and out["ok"].final_url == "t"
    assert out["ok"].hops == 1


def test_fan_in_to_one_terminal(spark):
    pairs = [(f"f{i}", "hub") for i in range(5)] + [("hub", "t")]
    out = {r.url: r for r in
           resolve_redirects(_edges(spark, pairs), max_hops=8).collect()}
    assert all(out[f"f{i}"].final_url == "t" and out[f"f{i}"].hops == 2
               for i in range(5))
    assert out["hub"].hops == 1


def test_max_hops_one(spark):
    pairs = [("a", "t"), ("b", "c"), ("c", "t")]
    out = {r.url: r for r in
           resolve_redirects(_edges(spark, pairs), max_hops=1).collect()}
    assert out["a"].resolved and out["a"].hops == 1
    assert out["c"].resolved
    assert not out["b"].resolved          # 2 hops > max_hops=1


def test_plan_is_python_and_window_free(spark):
    # one pointer-doubling round (each round of resolve_redirects is
    # this plan over the previous round's checkpoint)
    m = spark.createDataFrame(
        [(s, t, 1, False) for s, t in _chain("a", 3)],
        "url string, final_url string, hops long, resolved boolean")
    plan = _double(m, [])._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
