"""scripts/plan_snap.py's plan normalizer and ``--compare``: two plans of
one query from different sessions differ only in run-to-run ids, which
the normalizer strips; any other difference must survive it."""

from __future__ import annotations

from scripts.plan_snap import compare, normalize

PLAN = """\
(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [id#{e1}L, shset#{e2}]
Arguments: [id#{e1}L, shset#{e2}], MapPartitionsRDD[{rdd}] at localCheckpoint at {site}, ExistingRDD
(2) Project [codegen id : 1]
Output [1]: [zip_with(x, y, lambdafunction(concat(x_{l1}#{e3}, y_{l2}#{e4}), x_{l1}#{e3}, y_{l2}#{e4})) AS s#{e5}]
(3) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={pid}]
(4) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [id_a#{e6}L]
Right keys [1]: [id_b#{e7}L]
Join type: {join}
"""

IDS_A = dict(
    e1=12, e2=13, e3=50, e4=51, e5=52, e6=123, e7=124, l1=41, l2=42, rdd=77,
    pid=456, site="<unknown>:0",
)
IDS_B = dict(
    e1=98, e2=99, e3=7, e4=8, e5=9, e6=301, e7=302, l1=57, l2=58, rdd=91,
    pid=789, site="NativeMethodAccessorImpl.java:0",
)


def test_normalize_strips_run_to_run_ids_only():
    a = PLAN.format(join="Inner", **IDS_A)
    b = PLAN.format(join="Inner", **IDS_B)
    assert a != b
    assert normalize(a) == normalize(b)
    assert normalize(a) != normalize(PLAN.format(join="LeftOuter", **IDS_B))


def test_compare_names_changed_and_one_sided_queries(tmp_path):
    before, after = tmp_path / "before", tmp_path / "after"
    before.mkdir()
    after.mkdir()
    (before / "x_same_q_before.txt").write_text(PLAN.format(join="Inner", **IDS_A))
    (after / "x_same_q_after.txt").write_text(PLAN.format(join="Inner", **IDS_B))
    (before / "x_moved_before.txt").write_text(PLAN.format(join="Inner", **IDS_A))
    (after / "x_moved_after.txt").write_text(PLAN.format(join="LeftSemi", **IDS_A))
    (after / "x_new_after.txt").write_text(PLAN.format(join="Inner", **IDS_A))
    assert compare(str(before), str(after)) == ["x_moved", "x_new"]


def test_write_plans_clears_the_cache_before_each_build(tmp_path):
    """A frame cached by one query must not reach the next query's
    plan: the snapshot clears the session cache before every build."""
    from scripts.plan_snap import write_plans

    log = []

    class FakeCatalog:
        def clearCache(self):
            log.append("clear")

    class FakeSession:
        catalog = FakeCatalog()

    def build(name):
        def fn(spark, sf):
            log.append(f"build {name} {sf}")
            return name

        return fn

    write_plans(
        FakeSession(),
        {"x_a": build("x_a"), "x_b": build("x_b")},
        "SF",
        str(tmp_path),
        "after",
        lambda df: f"plan of {df}",
    )
    assert log == ["clear", "build x_a SF", "clear", "build x_b SF"]
    assert (tmp_path / "x_b_after.txt").read_text() == "plan of x_b"
