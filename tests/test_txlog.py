"""Transaction-log table format: atomic versioned snapshots, time travel,
append/merge/compact/vacuum, and reader isolation from uncommitted data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
    load_table,
)
from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import (
    TxTable,
)

from .conftest import SF_SMOKE


def _events(spark):
    return load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )


def test_overwrite_append_time_travel(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    assert t.snapshot() is None
    ev = _events(spark)

    v0 = t.overwrite(ev.filter(F.col("event_type") == "click"))
    v1 = t.append(ev.filter(F.col("event_type") == "error"))
    assert (v0, v1) == (0, 1)

    clicks = ev.filter(F.col("event_type") == "click").count()
    errors = ev.filter(F.col("event_type") == "error").count()
    assert t.snapshot(version=0).count() == clicks  # time travel
    assert t.snapshot().count() == clicks + errors
    assert [m["op"] for m in t.history()] == ["overwrite", "append"]


def test_merge_is_latest_per_key(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"
    )
    t.overwrite(base)
    src = spark.createDataFrame(
        [(2, 2, "b2"), (3, 1, "c")], "k long, seq long, v string"
    )
    t.merge(src, "k", ["seq"])
    got = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    # the pre-merge version is still readable
    assert {(r["k"], r["v"]) for r in t.snapshot(version=0).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_reader_isolated_from_uncommitted_writer(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    ev = _events(spark)
    t.overwrite(ev.limit(100))
    before = t.snapshot().count()
    # writer crashes mid-write: data files land, NO manifest committed
    t._write_data(ev.limit(50))
    assert t.snapshot().count() == before
    assert t.latest_version() == 0


def test_compact_and_vacuum(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    ev = _events(spark)
    t.overwrite(ev.repartition(6))
    t.append(ev.limit(10))
    n = t.snapshot().count()
    t.compact(target_partitions=1)
    assert t.snapshot().count() == n
    removed = t.vacuum(keep_last=1)
    assert removed, "vacuum must drop the superseded data dirs"
    # latest survives, with the data intact
    assert t.snapshot().count() == n
    assert t.versions() == [2]
    for d in removed:
        assert not os.path.isdir(d)


def test_changes_append_fast_path_and_diff_fallback(spark, tmp_path):
    from tests.planutil import physical_plan

    t = TxTable(spark, str(tmp_path / "tbl"))
    ev = _events(spark)
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    views = ev.filter(F.col("event_type") == "view")

    t.overwrite(clicks)          # v0
    t.append(errors)             # v1
    t.append(views)              # v2

    # append-only range: changes = exactly the appended rows, and the plan
    # reads ONLY the new files (no join/except against the base snapshot)
    ch = t.changes(0, 2)
    got = {r["event_id"] for r in ch.collect()}
    want = {r["event_id"] for r in errors.unionByName(views).collect()}
    assert got == want
    assert "Except" not in physical_plan(ch)

    # a merge in the range forces the snapshot-diff fallback, still correct
    t.merge(
        spark.createDataFrame(
            [(clicks.first()["event_id"], clicks.first()["ts"], "click", 99.0)],
            "event_id long, ts timestamp_ntz, event_type string, value double",
        ),
        "event_id",
        ["value"],
    )                            # v3 (rewrites the file set)
    diff = t.changes(2, 3)
    rows = diff.collect()
    assert any(r["value"] == 99.0 for r in rows)

    with pytest.raises(ValueError):
        t.changes(2, 1)


def test_manifest_stats_skip_disjoint_dirs(spark, tmp_path):
    from tests.planutil import physical_plan

    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=("value",))
    low = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, value double"
    )
    high = spark.createDataFrame(
        [(i, float(i)) for i in range(1000, 1010)], "k long, value double"
    )
    t.overwrite(low)
    t.append(high)

    pruned = t.snapshot_pruned("value", 1000.0, 2000.0)
    assert pruned.count() == 10
    # only ONE data dir survives metadata pruning (the scan's file index
    # holds one root path; full paths are truncated in plan strings)
    plan = physical_plan(pruned)
    assert "1 paths" in plan, plan
    # a range overlapping both reads both and stays exact
    both = t.snapshot_pruned("value", 5.0, 1005.0)
    assert both.count() == 5 + 6
    # dirs without stats are never wrongly skipped
    t2 = TxTable(spark, str(tmp_path / "tbl2"))  # no stats_cols
    t2.overwrite(low)
    t2b = TxTable(spark, str(tmp_path / "tbl2"), stats_cols=("value",))
    assert t2b.snapshot_pruned("value", 0.0, 3.0).count() == 4


def test_append_rejects_schema_drift_overwrite_allows(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([(2, "b", 1.0)],
                                       "k long, v string, extra double"))
    # same schema appends fine; overwrite may change the schema
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert t.snapshot().count() == 2
    t.overwrite(spark.createDataFrame([(3, "c", 9.0)],
                                      "k long, v string, extra double"))
    assert "extra" in t.snapshot().columns


def test_merge_source_wins_order_col_ties(spark, tmp_path):
    # documented SCD1 semantics: when snapshot and source rows tie on every
    # order col, the SOURCE row must win deterministically
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 5, "old"), (2, 5, "old")], "k long, seq long, v string"
        )
    )
    src = spark.createDataFrame(
        [(1, 5, "new"), (2, 5, "new")], "k long, seq long, v string"
    ).repartition(7)
    t.merge(src, "k", ["seq"])
    got = {(r["k"], r["v"]) for r in t.snapshot().collect()}
    assert got == {(1, "new"), (2, "new")}
    # __src tag must not leak into the committed snapshot
    assert t.snapshot().columns == ["k", "seq", "v"]


def test_first_append_pins_schema(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([(2,)], "k long"))


def test_first_merge_pins_schema(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.merge(
        spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"),
        "k",
        ["seq"],
    )
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([(2, 2)], "k long, seq long"))


def test_snapshot_pruned_keeps_all_null_stats_parts(spark, tmp_path):
    # a part whose stats column is entirely NULL records min=max=null; it
    # must be KEPT (cannot prune), not crash the planner
    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=("x",))
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double")
    )
    t.append(
        spark.createDataFrame([(3, None), (4, None)], "k long, x double")
    )
    got = t.snapshot_pruned("x", 5.0, 15.0)
    assert {r["k"] for r in got.collect()} == {1}


def test_vacuum_removes_stats_sidecars(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=("x",))
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k long, x double"))
    t.overwrite(spark.createDataFrame([(2, 2.0)], "k long, x double"))
    removed = t.vacuum(keep_last=1)
    assert removed
    for d in removed:
        assert not os.path.exists(f"{d}.stats.json"), d
    assert t.snapshot().count() == 1


def _kept_dirs(t, col, lo, hi):
    dirs = t._manifest(t.latest_version())["data_dirs"]
    kept = []
    for d in dirs:
        s = (t._dir_stats(d) or {}).get(col)
        if (
            s is None
            or s["min"] is None
            or s["max"] is None
            or not (s["max"] < lo or s["min"] > hi)
        ):
            kept.append(d)
    return len(kept), len(dirs)


def test_optimize_zorder_prunes_both_columns(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    t = TxTable(spark, str(tmp_path / "z"), stats_cols=("value", "user_id"))
    for i in range(4):
        t.append(ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i))
    # fixture-independent selective ranges: value's top decile, users' bottom
    v_lo, v_hi = ev.agg(
        F.expr("percentile(value, 0.9)"), F.max("value")
    ).first()
    u_lo, u_hi = 0, int(ev.agg(F.expr("percentile(user_id, 0.1)")).first()[0])
    # hash-sliced appends overlap every range on both columns: no skipping
    assert _kept_dirs(t, "value", v_lo, v_hi) == (4, 4)
    assert _kept_dirs(t, "user_id", u_lo, u_hi) == (4, 4)
    before = sorted(
        tuple(r) for r in t.snapshot().groupBy("user_id").count().collect()
    )
    t.optimize(["user_id", "value"], num_buckets=16)
    # z-ordering makes dir stats tight on BOTH columns at once
    kept_v, total = _kept_dirs(t, "value", v_lo, v_hi)
    kept_u, _ = _kept_dirs(t, "user_id", u_lo, u_hi)
    assert total >= 8  # rewrite actually produced multiple bucket dirs
    assert kept_v < total and kept_u < total
    # ... without changing the committed content or schema
    after = sorted(
        tuple(r) for r in t.snapshot().groupBy("user_id").count().collect()
    )
    assert before == after
    assert t.snapshot().schema == ev.schema
    # pruned scans stay EXACT (stats only cut I/O, the filter still runs)
    got = t.snapshot_pruned("value", v_lo, v_hi).count()
    want = ev.filter((F.col("value") >= v_lo) & (F.col("value") <= v_hi)).count()
    assert got == want


def test_optimize_timestamp_cluster_column(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "value")
    t = TxTable(spark, str(tmp_path / "zts"), stats_cols=("ts",))
    t.append(ev)
    t.optimize(["ts"], num_buckets=8)
    # single-column z-order == range clustering: ts ranges prune
    lo = ev.agg(F.min("ts")).first()[0]
    mid = ev.selectExpr(
        "cast(timestamp_micros(cast(percentile("
        "unix_micros(cast(ts as timestamp)), 0.1) as bigint)) as timestamp_ntz) as m"
    ).first()[0]
    kept, total = _kept_dirs(t, "ts", lo.isoformat(), mid.isoformat())
    assert total >= 4 and kept < total
    assert t.snapshot().count() == ev.count()


def test_optimize_empty_and_bad_args(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "ze"))
    with pytest.raises(ValueError):
        t.optimize(["value"])
    ev = _events(spark)
    t.append(ev)
    with pytest.raises(ValueError):
        t.optimize([])
    with pytest.raises(ValueError):
        t.optimize(["no_such_col"])


# ---------------------------------------------------------------------------
# Bloom point-lookup sidecars + DELETE WHERE (round 7)
# ---------------------------------------------------------------------------


def test_bloom_point_lookup_prunes_and_finds(spark, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tb"), bloom_cols=("k",))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(0, 50)], "k long, val string"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(1000, 1050)], "k long, val string"))
    v = t.latest_version()
    # a key in the second dir: the first dir must be bloom-pruned
    keep, total = t._bloom_keep_dirs("k", 1010, v)
    assert total == 2 and len(keep) == 1
    got = t.point_lookup("k", 1010).collect()
    assert [(r["k"], r["val"]) for r in got] == [(1010, "v1010")]
    # a key in no dir: with overwhelming probability both dirs prune
    keep2, _ = t._bloom_keep_dirs("k", 999_999_937, v)
    assert len(keep2) <= 1  # bloom false positives allowed, not misses
    assert t.point_lookup("k", 999_999_937).count() == 0


def test_delete_range_carries_disjoint_dirs(spark, tmp_path):
    import os

    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "td"), stats_cols=("k",))
    t.append(spark.createDataFrame([(i,) for i in range(0, 100)], "k long"))
    t.append(spark.createDataFrame([(i,) for i in range(1000, 1100)], "k long"))
    before_dirs = set(t._manifest(t.latest_version())["data_dirs"])
    v = t.delete_range("k", 20, 29)
    snap = t.snapshot(v)
    assert snap.count() == 190
    assert snap.filter("k >= 20 and k <= 29").isEmpty()
    after_dirs = set(t._manifest(v)["data_dirs"])
    # the disjoint 1000-range dir is carried over verbatim (same path)
    carried = before_dirs & after_dirs
    assert len(carried) == 1
    # time travel still sees the deleted rows
    assert t.snapshot(v - 1).count() == 200
    # deleting everything in a dir drops the dir instead of writing empty
    v2 = t.delete_range("k", 1000, 1099)
    assert t.snapshot(v2).count() == 90  # the 0-99 dir already lost 20-29
    assert len(t._manifest(v2)["data_dirs"]) == 1
    # history records the delete op
    assert t._manifest(v)["op"] == "delete"
    assert os.path.isdir(list(carried)[0])


def test_add_column_schema_evolution(spark, tmp_path):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "te"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string"))
    v0 = t.latest_version()
    v1 = t.add_column("tier", "string")
    # metadata-only: same data dirs, evolved marker set
    assert t._manifest(v1)["data_dirs"] == t._manifest(v0)["data_dirs"]
    assert t._manifest(v1)["evolved"] is True
    # old rows read back NULL for the new column, in committed order
    snap = t.snapshot()
    assert snap.columns == ["k", "val", "tier"]
    assert snap.filter("tier IS NULL").count() == 2
    # pre-evolution appends now fail schema enforcement...
    with pytest.raises(ValueError, match="schema"):
        t.append(spark.createDataFrame([(3, "c")], "k long, val string"))
    # ...and evolved-schema appends land; mixed dirs read consistently
    t.append(
        spark.createDataFrame([(3, "c", "gold")], "k long, val string, tier string")
    )
    snap2 = t.snapshot()
    assert snap2.count() == 3
    assert snap2.filter("tier = 'gold'").count() == 1
    assert snap2.filter("tier IS NULL").count() == 2
    # time travel: the pre-evolution version still has the narrow schema
    assert t.snapshot(v0).columns == ["k", "val"]
    # duplicate column refused
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("tier", "string")
    # compact rewrites every dir with the full schema and resets evolved
    vc = t.compact()
    assert t._manifest(vc)["evolved"] is False
    assert t.snapshot(vc).count() == 3


def test_drop_column_and_restore(spark, tmp_path):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tdrop"))
    t.append(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, val string, extra long")
    )
    v0 = t.latest_version()
    v1 = t.drop_column("extra")
    snap = t.snapshot()
    assert snap.columns == ["k", "val"]  # projected away, data untouched
    assert t._manifest(v1)["data_dirs"] == t._manifest(v0)["data_dirs"]
    # appends must now use the narrow schema
    t.append(spark.createDataFrame([(3, "c")], "k long, val string"))
    assert t.snapshot().count() == 3
    # time travel still sees the dropped column
    assert t.snapshot(v0).columns == ["k", "val", "extra"]
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_column("extra")
    # RESTORE: back to v0's content as a NEW audited version
    v3 = t.restore(v0)
    assert v3 > v1
    assert t.snapshot().columns == ["k", "val", "extra"]
    assert t.snapshot().count() == 2
    assert t._manifest(v3)["op"] == f"restore({v0})"


def test_check_constraints_gate_writes(spark, tmp_path):
    import pytest

    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tcheck"))
    t.append(spark.createDataFrame([(1, 5.0)], "k long, v double"))
    t.add_check("v_nonneg", "v >= 0")
    # conforming append lands
    t.append(spark.createDataFrame([(2, 7.5)], "k long, v double"))
    # violating append rejected, table unchanged
    with pytest.raises(ValueError, match="v_nonneg"):
        t.append(spark.createDataFrame([(3, -1.0)], "k long, v double"))
    # NULL predicate counts as a violation (write-side strictness)
    with pytest.raises(ValueError, match="v_nonneg"):
        t.append(spark.createDataFrame([(4, None)], "k long, v double"))
    assert t.snapshot().count() == 2
    # constraints survive later commits (sticky through _commit)
    t.compact()
    with pytest.raises(ValueError, match="v_nonneg"):
        t.append(spark.createDataFrame([(5, -2.0)], "k long, v double"))
    with pytest.raises(ValueError, match="already exists"):
        t.add_check("v_nonneg", "v >= 0")


def test_merge_txn_idempotent_on_redelivery(spark, tmp_path):
    from end_to_end_data_engineering_and_ml_system_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "ttxn"))
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, ver long")
    b1 = spark.createDataFrame([(1, 11)], "k long, ver long")
    v0 = t.merge(b0, "k", ["ver"], txn=("app", 0))
    v1 = t.merge(b1, "k", ["ver"], txn=("app", 1))
    assert v1 == v0 + 1
    # re-delivery of batch 1 (and a late replay of batch 0): no-ops
    assert t.merge(b1, "k", ["ver"], txn=("app", 1)) == v1
    assert t.merge(b0, "k", ["ver"], txn=("app", 0)) == v1
    assert t.latest_version() == v1
    assert t.snapshot().count() == 2
    assert t.snapshot().filter("k = 1").first()["ver"] == 11
    # a different app's batch numbering is independent
    v2 = t.merge(b0, "k", ["ver"], txn=("other", 0))
    assert v2 == v1 + 1


def test_delete_all_rows_leaves_table_readable(spark, tmp_path):
    # a DELETE that removes every row commits an empty data_dirs list; the
    # snapshot at that version must read back as an EMPTY DataFrame of the
    # committed schema, not raise UNABLE_TO_INFER_SCHEMA
    t = TxTable(spark, str(tmp_path / "tdelall"))
    t.append(spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, v double"))
    v = t.delete_range("k", 0, 100)
    snap = t.snapshot()
    assert snap.count() == 0
    assert [f.name for f in snap.schema.fields] == ["k", "v"]
    assert snap.schema["k"].dataType.typeName() == "long"
    # pruned/point reads on the empty version hold the schema too
    assert t.snapshot_pruned("k", 0, 10).count() == 0
    assert t.point_lookup("k", 1).count() == 0
    # the table stays writable: a later append revives it
    t.append(spark.createDataFrame([(3, 9.0)], "k long, v double"))
    assert t.snapshot().count() == 1
    # time travel still sees the pre-delete rows
    assert t.snapshot(v - 1).count() == 2


def test_pruned_reads_honor_evolved_schema(spark, tmp_path):
    # which dirs survive pruning must never change the result schema:
    # point_lookup / snapshot_pruned on an evolved table must align to the
    # committed schema exactly as snapshot() does
    t = TxTable(spark, str(tmp_path / "tevoread"), bloom_cols=("k",))
    t.append(spark.createDataFrame([(1, 5.0)], "k long, v double"))
    t.add_column("extra", "string")
    t.append(
        spark.createDataFrame([(100, 7.0, "x")], "k long, v double, extra string")
    )
    want = ["extra", "k", "v"]
    # lookups landing in pre-evolution dirs, post-evolution dirs, and both
    for key in (1, 100):
        got = t.point_lookup("k", key)
        assert sorted(got.columns) == want, key
        assert got.count() == 1
    old = t.point_lookup("k", 1).first()
    assert old["extra"] is None  # pre-evolution row reads back NULL
    for lo, hi in ((0, 10), (50, 200), (0, 200)):
        got = t.snapshot_pruned("k", lo, hi)
        assert sorted(got.columns) == want, (lo, hi)
    # dropped columns must not reappear through a pruned read
    t.drop_column("extra")
    assert sorted(t.point_lookup("k", 100).columns) == ["k", "v"]
    assert sorted(t.snapshot_pruned("k", 50, 200).columns) == ["k", "v"]


def test_txn_and_checks_land_in_one_atomic_manifest_write(spark, tmp_path):
    import json

    t = TxTable(spark, str(tmp_path / "tatomic"))
    v0 = t.merge(
        spark.createDataFrame([(1, 10)], "k long, ver long"),
        "k",
        ["ver"],
        txn=("app", 0),
    )
    man = json.load(open(os.path.join(str(tmp_path / "tatomic"), "_log", f"{v0}.json")))
    assert man["txn"] == {"app": "app", "batch": 0}
    v1 = t.add_check("ver_nonneg", "ver >= 0")
    man1 = json.load(open(os.path.join(str(tmp_path / "tatomic"), "_log", f"{v1}.json")))
    assert man1["checks"] == {"ver_nonneg": "ver >= 0"}


def test_overwrite_enforces_carried_checks(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tovrchk"))
    t.append(spark.createDataFrame([(1, 5.0)], "k long, v double"))
    t.add_check("v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.overwrite(spark.createDataFrame([(2, -1.0)], "k long, v double"))
    assert t.snapshot().count() == 1  # violating overwrite never committed
    t.overwrite(spark.createDataFrame([(2, 3.0)], "k long, v double"))
    assert t.snapshot().first()["k"] == 2


def test_restore_enforces_live_checks(spark, tmp_path):
    # a restore to a state predating a constraint must not smuggle
    # violating rows back under it (same gate as append/merge/overwrite)
    t = TxTable(spark, str(tmp_path / "trestchk"))
    v0 = t.append(spark.createDataFrame([(1, -5.0)], "k long, v double"))
    t.overwrite(spark.createDataFrame([(2, 3.0)], "k long, v double"))
    t.add_check("v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="v_nonneg"):
        t.restore(v0)
    # conforming restores still work
    v_clean = t.latest_version() - 1  # the overwrite version
    t.restore(v_clean)
    assert t.snapshot().first()["k"] == 2


def test_stats_sidecars_computed_from_committed_bytes(spark, tmp_path):
    """Sidecar stats must describe the WRITTEN data, not a re-execution of
    the input lineage — a non-deterministic input (rand-keyed column)
    would otherwise record stats that under-cover the committed rows and
    pruning would silently drop them."""
    import json as _json

    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=("r",))
    df = spark.range(200).select(
        F.col("id"), (F.rand(seed=None) * 1000).cast("long").alias("r")
    )
    t.overwrite(df)
    d = t._manifest(0)["data_dirs"][0]
    with open(f"{d}.stats.json") as f:
        stats = _json.load(f)["r"]
    row = (
        spark.read.parquet(d)
        .agg(F.min("r").alias("lo"), F.max("r").alias("hi"))
        .first()
    )
    assert stats["min"] <= row["lo"] and stats["max"] >= row["hi"]
    # and pruning with those stats returns exactly the committed rows
    mid = (row["lo"] + row["hi"]) // 2
    want = spark.read.parquet(d).filter(F.col("r") >= mid).count()
    assert t.snapshot_pruned("r", mid, row["hi"]).count() == want


def test_sidecar_free_append_runs_one_job(spark, tmp_path):
    """With no stats or bloom columns there is nothing to compute from the
    committed bytes, so an append is the parquet write alone: reading the
    new dir back would add a schema-inference job to every append."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    ev = _events(spark)
    t.append(ev.filter(F.col("event_type") == "click"))  # pins the schema
    batch = ev.filter(F.col("event_type") == "error")
    sc = spark.sparkContext
    group = f"sidecar-free-append-{tmp_path.name}"
    sc.setJobGroup(group, "sidecar-free append")
    try:
        t.append(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert t.snapshot().count() == ev.filter(
        F.col("event_type").isin("click", "error")
    ).count()


def test_date_and_decimal_stats_cols(spark, tmp_path):
    """DATE and DECIMAL stats columns must serialize into the sidecar
    (dates to ISO strings, decimals to conservatively-rounded floats) —
    the date-partition case is the canonical pruning workload."""
    import datetime

    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=("d", "m"))
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, i), f"{i}.25") for i in range(1, 11)],
        "d date, m string",
    ).select("d", F.col("m").cast("decimal(10,2)").alias("m"))
    t.overwrite(df)  # must not crash writing the sidecar
    got = t.snapshot_pruned("d", datetime.date(2024, 1, 3),
                            datetime.date(2024, 1, 5))
    assert got.count() == 3
    import decimal

    got_m = t.snapshot_pruned(
        "m", decimal.Decimal("3.25"), decimal.Decimal("5.25")
    )
    assert got_m.count() == 3


def test_delete_range_on_evolved_table(spark, tmp_path):
    """DELETE on a column added AFTER some dirs were written: the
    pre-evolution dirs read the column as NULL (rows KEPT per SQL DELETE
    semantics) instead of crashing on UNRESOLVED_COLUMN."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1,), (2,)], "k long"))
    t.add_column("region", "string")
    t.append(
        spark.createDataFrame(
            [(3, "emea"), (4, "apac")], "k long, region string"
        )
    )
    t.delete_range("region", "apac", "apac")
    got = {(r["k"], r["region"]) for r in t.snapshot().collect()}
    assert got == {(1, None), (2, None), (3, "emea")}


def test_changes_across_schema_evolution(spark, tmp_path):
    """changes() spanning an add_column commit aligns the old snapshot to
    the new schema (missing column as NULL) instead of raising
    NUM_COLUMNS_MISMATCH."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1,), (2,)], "k long"))
    t.add_column("v", "string")
    t.append(spark.createDataFrame([(3, "x")], "k long, v string"))
    got = {(r["k"], r["v"]) for r in t.changes(0).collect()}
    assert got == {(3, "x")}


def test_append_accepts_narrower_array_element_nullability(spark, tmp_path):
    """containsNull is writer-side inference like nullable: an array built
    from literals (containsNull=false) must append into a committed
    nullable-element array column."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame([(1, ["a", None])], "k long, tags array<string>")
    t.overwrite(base)
    lit_arr = spark.range(1).select(
        F.lit(2).cast("long").alias("k"),
        F.array(F.lit("b"), F.lit("c")).alias("tags"),
    )
    t.append(lit_arr)  # must not raise schema-drift
    assert t.snapshot().count() == 2


def test_txn_seen_survives_vacuum(spark, tmp_path):
    """The exactly-once contract must survive maintenance: a later commit
    plus vacuum removes the merge's manifest, but the carried-forward txn
    map in the newest manifest still answers txn_seen — a re-delivered
    batch stays a no-op."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    t.merge(
        spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string"),
        "k",
        ["seq"],
        txn=("app", 7),
    )
    t.compact()
    t.vacuum(keep_last=1)
    assert t.txn_seen("app", 7) is True
    v = t.latest_version()
    # re-delivery is a no-op: no new version, state unchanged
    t.merge(
        spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string"),
        "k",
        ["seq"],
        txn=("app", 7),
    )
    assert t.latest_version() == v
    assert {r["v"] for r in t.snapshot().collect()} == {"b"}


def test_optimize_preserves_bloom_sidecars(spark, tmp_path):
    """OPTIMIZE rewrites the dir layout — it must rewrite the bloom
    sidecars too, or point_lookup degrades to a full scan right after the
    maintenance meant to speed it up."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stats_cols=("k",), bloom_cols=("k",)
    )
    t.overwrite(
        spark.range(400).select(F.col("id").alias("k"),
                                (F.col("id") % 7).alias("v"))
    )
    t.optimize(["k"], num_buckets=4)
    dirs = t._manifest(t.latest_version())["data_dirs"]
    assert all(os.path.exists(f"{d}.bloom.k.json") for d in dirs)
    # point lookup still prunes: the bloom keep-set is smaller than all dirs
    keep, n = t._bloom_keep_dirs("k", 123, t.latest_version())
    assert len(keep) < n or n == 1
    got = t.point_lookup("k", 123)
    assert got.count() == 1


def test_vacuum_removes_bloom_sidecars_and_manifest_first(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"), bloom_cols=("k",))
    t.overwrite(spark.createDataFrame([(1,)], "k long"))
    old_dirs = t._manifest(0)["data_dirs"]
    t.overwrite(spark.createDataFrame([(2,)], "k long"))
    removed = t.vacuum(keep_last=1)
    assert removed == old_dirs
    for d in old_dirs:
        assert not os.path.exists(f"{d}.bloom.k.json")
        assert not os.path.exists(f"{d}.stats.json")
    assert t.versions() == [1]


def test_optimize_many_cluster_columns_caps_bits(spark, tmp_path):
    """bits*len(cluster_by) must stay below the bigint sign bit — 9 wide
    default-bits columns would otherwise wrap via JVM shift masking and
    silently scramble the clustering."""
    cols = [f"c{i}" for i in range(9)]
    t = TxTable(spark, str(tmp_path / "tbl"), stats_cols=tuple(cols))
    df = spark.range(300).select(
        *[((F.col("id") * (i + 3)) % 100).alias(c) for i, c in enumerate(cols)]
    )
    t.overwrite(df)
    t.optimize(cols, num_buckets=4)  # must not scramble or crash
    assert t.snapshot().count() == 300


def _strip_txns_maps(t: TxTable) -> None:
    """Manifest surgery: simulate a table written by a pre-map engine —
    per-commit 'txn' markers survive, the carried-forward 'txns' map does
    not exist yet."""
    import json as _json

    for v in t.versions():
        p = os.path.join(t._log_dir, f"{v}.json")
        with open(p) as f:
            m = _json.load(f)
        m.pop("txns", None)
        m.pop("txns_complete", None)  # pre-map engines know neither field
        with open(p, "w") as f:
            _json.dump(m, f)
    t._man_cache.clear()  # surgery = another engine's write; drop our cache


def test_legacy_multi_app_markers_fold_on_first_commit(spark, tmp_path):
    """Upgrading a pre-map table must fold the legacy markers of ALL
    surviving manifests into the new txns map — not just the previous
    manifest's own — so a multi-app history keeps every app's
    exactly-once marker through compact + vacuum."""
    sch = "k long, seq long, v string"
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], sch))
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("appA", 3))
    t.merge(spark.createDataFrame([(1, 3, "c")], sch), "k", ["seq"], txn=("appB", 5))
    _strip_txns_maps(t)
    # first post-upgrade commit rebuilds the map from the full legacy trail
    t.append(spark.createDataFrame([(2, 1, "d")], sch))
    assert t._manifest(t.latest_version())["txns"] == {"appA": 3, "appB": 5}
    t.compact()
    t.vacuum(keep_last=1)
    assert t.txn_seen("appA", 3) is True
    assert t.txn_seen("appB", 5) is True
    assert t.txn_seen("appA", 4) is False


def test_vacuum_refuses_to_erase_unrepresented_txn_markers(spark, tmp_path):
    """On a pre-map table that has NOT yet re-committed, vacuum must keep
    any manifest whose txn marker is not represented in the newest
    manifest's map — dropping it would re-open the re-apply hole."""
    sch = "k long, seq long, v string"
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], sch))
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("appA", 3))
    t.merge(spark.createDataFrame([(1, 3, "c")], sch), "k", ["seq"], txn=("appB", 5))
    _strip_txns_maps(t)
    t.vacuum(keep_last=1)
    # v0 (no marker) may go; v1 carries appA's only marker and must survive
    assert 1 in t.versions()
    assert t.txn_seen("appA", 3) is True
    # re-delivery stays a no-op
    v = t.latest_version()
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("appA", 3))
    assert t.latest_version() == v


def test_txn_seen_falls_through_stale_map_to_legacy_walk(spark, tmp_path):
    """The newest map is authoritative only for the TRUE answer (it is
    monotone, so map >= batch proves the commit). A map entry LOWER than
    the asked batch must fall through to the full walk: vacuum's own
    keep-guard preserves manifests whose markers exceed the newest map, so
    a stale map entry with a surviving higher legacy marker means the
    batch DID commit — answering False would re-apply it (the
    exactly-once hole)."""
    import json as _json

    sch = "k long, seq long, v string"
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], sch))
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("app", 9))
    t.append(spark.createDataFrame([(2, 1, "c")], sch))
    # surgery: newest map claims app->5 while the legacy marker says 9 —
    # the underrepresented-map state the vacuum keep-guard acknowledges
    p = os.path.join(t._log_dir, f"{t.latest_version()}.json")
    with open(p) as f:
        m = _json.load(f)
    m["txns"] = {"app": 5}
    m.pop("txns_complete", None)  # an underrepresented map is never flagged
    with open(p, "w") as f:
        _json.dump(m, f)
    t._man_cache.clear()  # surgery = another engine's write; drop our cache
    assert t.txn_seen("app", 5) is True  # O(1) fast path
    assert t.txn_seen("app", 9) is True  # walk finds the legacy marker
    assert t.txn_seen("app", 10) is False


def test_txn_seen_falls_through_to_older_manifest_map(spark, tmp_path):
    """Mixed-writer chain: a pre-map engine commits AFTER a map-carrying
    manifest, so the newest manifest has no txns map at all — but an older
    surviving manifest's map still proves the commit. txn_seen must read
    older maps on the walk, and vacuum must not drop the map-carrying
    manifest while its entries exceed the newest map."""
    import json as _json

    sch = "k long, seq long, v string"
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], sch))
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("appA", 5))
    v_map = t.latest_version()  # carries txns={"appA": 5}
    t.append(spark.createDataFrame([(2, 1, "c")], sch))
    # surgery on the NEWEST manifest only: simulate an old engine having
    # written it (no txns map, unrelated legacy marker)
    p = os.path.join(t._log_dir, f"{t.latest_version()}.json")
    with open(p) as f:
        m = _json.load(f)
    m.pop("txns", None)
    m.pop("txns_complete", None)  # pre-map engines know neither field
    m["txn"] = {"app": "appB", "batch": 1}
    with open(p, "w") as f:
        _json.dump(m, f)
    t._man_cache.clear()  # surgery = another engine's write; drop our cache
    assert t.txn_seen("appA", 5) is True  # only evidence is v_map's map
    # vacuum must keep the map-carrying manifest (its entries exceed the
    # newest, empty, map) — appA's marker survives
    t.vacuum(keep_last=1)
    assert v_map in t.versions()
    assert t.txn_seen("appA", 5) is True
    # the next new-engine commit rebuilds the map from BOTH older maps and
    # legacy markers
    t.append(spark.createDataFrame([(3, 1, "d")], sch))
    assert t._manifest(t.latest_version())["txns"] == {"appA": 5, "appB": 1}
    # and a re-delivered merge stays a no-op
    v = t.latest_version()
    t.merge(spark.createDataFrame([(1, 2, "b")], sch), "k", ["seq"], txn=("appA", 5))
    assert t.latest_version() == v


# ---------------------------------------------------------------------------
# Property: exactly-once across the legacy/map upgrade boundary
# ---------------------------------------------------------------------------

def _strip_newest_txns_map(t: TxTable) -> None:
    """Manifest surgery on the NEWEST manifest only: simulate that commit
    having been written by a pre-map engine (its own legacy 'txn' marker
    survives; the carried-forward 'txns' map does not)."""
    import json as _json

    p = os.path.join(t._log_dir, f"{t.latest_version()}.json")
    with open(p) as f:
        m = _json.load(f)
    m.pop("txns", None)
    m.pop("txns_complete", None)  # pre-map engines know neither field
    with open(p, "w") as f:
        _json.dump(m, f)
    t._man_cache.clear()  # surgery = another engine's write; drop our cache


def test_property_exactly_once_across_upgrade_boundary(spark, tmp_path):
    """Randomly interleaved legacy/mapped histories (two apps, vacuum at
    arbitrary points, re-deliveries of already-committed batches mid-run)
    must keep the exactly-once ledger intact: a re-delivered merge is
    ALWAYS a version no-op, txn_seen is True for every committed batch and
    False past each app's frontier — regardless of which commits were
    written by a pre-map engine and which manifests vacuum dropped."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    sch = "k long, seq long, v string"

    op = st.one_of(
        st.tuples(
            st.just("merge"),
            st.sampled_from(["appA", "appB"]),
            st.booleans(),  # legacy-writer commit?
        ),
        st.tuples(st.just("vacuum"), st.sampled_from([1, 2]), st.just(False)),
        st.tuples(st.just("redeliver"), st.just(""), st.just(False)),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
        derandomize=True,
    )
    @given(ops=st.lists(op, min_size=3, max_size=8), data=st.data())
    def run(ops, data):
        import shutil as _sh

        root = str(tmp_path / "prop")
        _sh.rmtree(root, ignore_errors=True)
        t = TxTable(spark, root)
        t.overwrite(spark.createDataFrame([(0, 0, "seed")], sch))
        frontier: dict[str, int] = {}  # app -> highest committed batch
        key = 1
        for kind, arg, legacy in ops:
            if kind == "merge":
                b = frontier.get(arg, -1) + 1
                t.merge(
                    spark.createDataFrame([(key, 1, "x")], sch),
                    "k",
                    ["seq"],
                    txn=(arg, b),
                )
                frontier[arg] = b
                key += 1
                if legacy:
                    _strip_newest_txns_map(t)
            elif kind == "vacuum":
                t.vacuum(keep_last=arg)
            elif kind == "redeliver" and frontier:
                app = data.draw(st.sampled_from(sorted(frontier)))
                b = data.draw(st.integers(0, frontier[app]))
                v = t.latest_version()
                t.merge(
                    spark.createDataFrame([(999, 1, "dup")], sch),
                    "k",
                    ["seq"],
                    txn=(app, b),
                )
                assert t.latest_version() == v, (
                    f"re-delivered ({app},{b}) re-applied: {ops}"
                )
        for app, hi in frontier.items():
            for b in range(hi + 1):
                assert t.txn_seen(app, b) is True, (app, b, ops)
            assert t.txn_seen(app, hi + 1) is False, (app, ops)

    run()


def test_txn_seen_fresh_batch_is_o1_and_manifests_cached(spark, tmp_path):
    """ADVICE r13 closure: (a) a fresh micro-batch (the common negative
    case) must answer from the NEWEST manifest alone when its map is
    flagged complete — no O(versions) walk per foreachBatch commit; (b)
    manifests are immutable once written, so a second read of the same
    version must come from the in-process cache, not the filesystem."""
    sch = "k long, seq long, v string"
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame([(1, 1, "a")], sch))
    for b in range(3):
        t.merge(
            spark.createDataFrame([(1, 2 + b, "x")], sch),
            "k",
            ["seq"],
            txn=("app", b),
        )
    newest = t._manifest(t.latest_version())
    assert newest["txns_complete"] is True
    assert newest["txns"] == {"app": 2}

    # (a) the negative answer touches exactly one manifest
    reads = []
    orig = TxTable._manifest

    def counting(self, version):
        reads.append(version)
        return orig(self, version)

    t2 = TxTable(spark, str(tmp_path / "tbl"))  # fresh instance, empty cache
    TxTable._manifest = counting
    try:
        assert t2.txn_seen("app", 99) is False
        assert reads == [t2.latest_version()]
        reads.clear()
        assert t2.txn_seen("other_app", 0) is False
        assert reads == [t2.latest_version()]
    finally:
        TxTable._manifest = orig

    # (b) cached manifest survives the file disappearing — proof the
    # second read never touched storage
    v = t.latest_version()
    assert t._manifest(v)["version"] == v  # populates the cache
    p = os.path.join(t._log_dir, f"{v}.json")
    os.rename(p, p + ".hidden")
    try:
        assert t._manifest(v)["txns"] == {"app": 2}
    finally:
        os.rename(p + ".hidden", p)

    # vacuum evicts dropped versions from the cache
    for m in t.history():
        pass  # populate cache for all versions
    before = set(t._man_cache)
    t.vacuum(keep_last=1)
    assert set(t._man_cache) == before & set(t.versions())
