"""Compaction: fragmented table -> ~target-sized files, content preserved,
sort_cols variant leaves range-clustered files for data skipping."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from downscaledclimatedata_spark.operators.maintenance import (
    compact_parquet, key_skew_stats, table_bytes,
)


def _parquet_files(d: str) -> list[Path]:
    return [p for p in Path(d).rglob("*.parquet") if p.is_file()]


def test_compact_merges_small_files(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"))
    df.repartition(40).write.parquet(src)
    assert len(_parquet_files(src)) == 40

    n = compact_parquet(spark, src, dst, target_bytes=1 << 30)
    assert n == 1  # 10k rows << 1 GiB target
    assert len(_parquet_files(dst)) == 1
    out = spark.read.parquet(dst)
    assert out.count() == 10_000
    assert out.agg(F.sum("id")).collect()[0][0] == 10_000 * 9_999 // 2


def test_compact_sorted_clusters_ranges(spark, tmp_path):
    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "sorted")
    spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id")) \
        .repartition(20).write.parquet(src)

    compact_parquet(spark, src, dst, target_bytes=60_000, sort_cols=["k"])
    files = _parquet_files(dst)
    assert len(files) >= 2
    # range partitioning => per-file key ranges must not overlap
    ranges = []
    for f in files:
        stats = spark.read.parquet(str(f)).agg(
            F.min("k"), F.max("k")).collect()[0]
        ranges.append((stats[0], stats[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {ranges}"
    assert spark.read.parquet(dst).count() == 10_000


def test_table_bytes_counts_everything(spark, tmp_path):
    src = str(tmp_path / "t")
    spark.range(0, 1000).write.parquet(src)
    data_bytes = sum(p.stat().st_size for p in _parquet_files(src))
    all_bytes = sum(p.stat().st_size for p in Path(src).rglob("*")
                    if p.is_file())
    # exact accounting of metadata files (_SUCCESS, .crc) differs by FS
    # implementation; sizing only needs the data-file order of magnitude
    assert data_bytes <= table_bytes(spark, src) <= all_bytes


def test_key_skew_stats_flags_hot_key(spark):
    rows = [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)]
    df = spark.createDataFrame(rows, "k int, v int")
    s = key_skew_stats(df, "k").collect()[0]
    assert s.n_keys == 101
    assert s.max_cnt == 900
    assert s.skew_factor > 50  # 900 / (1000/101) ~= 90.9


def test_dynamic_partition_overwrite_preserves_siblings(spark, tmp_path):
    from downscaledclimatedata_spark.operators.maintenance import (
        overwrite_partitions,
    )
    out = str(tmp_path / "table")
    v1 = spark.createDataFrame(
        [("d1", 1, 10), ("d2", 2, 20)], "day string, id int, v int")
    overwrite_partitions(v1, out, ["day"])
    # rewrite ONLY day=d2 with new content
    v2 = spark.createDataFrame([("d2", 2, 99)], "day string, id int, v int")
    overwrite_partitions(v2, out, ["day"])
    rows = {(r.day, r.id): r.v for r in spark.read.parquet(out).collect()}
    assert rows == {("d1", 1): 10, ("d2", 2): 99}


def test_merge_agg_state_handles_one_sided_keys(spark):
    """Keys present only in the state or only in the delta pass through
    intact — the outer-join edges a naive inner-join merge drops."""
    from downscaledclimatedata_spark.operators.maintenance import (
        agg_state, merge_agg_state)

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "k string, v double")
    delta = spark.createDataFrame(
        [("a", 2.0), ("c", 7.0)], "k string, v double")
    merged = {r.k: r for r in merge_agg_state(
        agg_state(base, "k", "v"), agg_state(delta, "k", "v"),
        "k").collect()}
    assert merged["a"].n == 3 and merged["a"].sum_cents == 600
    assert merged["a"].min_v == 1.0 and merged["a"].max_v == 3.0
    assert merged["b"].n == 1 and merged["b"].min_v == 5.0  # state-only
    assert merged["c"].n == 1 and merged["c"].sum_cents == 700  # delta-only
    # merging an empty delta is the identity
    empty = agg_state(spark.createDataFrame([], "k string, v double"),
                      "k", "v")
    again = {r.k: r for r in merge_agg_state(
        agg_state(base, "k", "v"), empty, "k").collect()}
    assert again["a"].n == 2 and again["b"].n == 1


def test_zorder_key_interleaves_bits():
    """Hand-checked Morton values through a Spark projection."""
    # a=0b11, b=0b01 -> z = a-even bits 1,1 at 0,2; b bit 1 at 1 -> 0b0111
    import downscaledclimatedata_spark.operators.maintenance as M
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame([(3, 1), (0, 0), (65535, 0), (0, 65535)],
                               "a long, b long")
    out = df.select(M.zorder_key(F.col("a"), F.col("b")).alias("z")) \
        .collect()
    zs = [r.z for r in out]
    assert zs[0] == 0b0111
    assert zs[1] == 0
    assert zs[2] == sum(1 << (2 * i) for i in range(16))       # even bits
    assert zs[3] == sum(1 << (2 * i + 1) for i in range(16))   # odd bits


def test_zorder_buckets_localize_both_dimensions(spark):
    """The property that justifies the layout: with 64 buckets (3 top
    bits per dim), every bucket's span is structurally ~range/8 in BOTH
    dimensions — a single-column sort leaves the other dim at ~full
    range."""
    import random
    from downscaledclimatedata_spark.operators.maintenance import (
        zorder_layout_stats)
    rng = random.Random(7)
    rows = [(rng.randrange(100000), rng.randrange(5000))
            for _ in range(20000)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = zorder_layout_stats(df, "a", "b").collect()
    range_a = max(r[0] for r in rows) - min(r[0] for r in rows)
    range_b = max(r[1] for r in rows) - min(r[1] for r in rows)
    # weight by rows: dominant mass must sit in tight buckets
    tot = sum(r.n_rows for r in stats)
    avg_a = sum(r.span_a * r.n_rows for r in stats) / tot
    avg_b = sum(r.span_b * r.n_rows for r in stats) / tot
    assert avg_a <= range_a / 4, (avg_a, range_a)
    assert avg_b <= range_b / 4, (avg_b, range_b)


def test_table_profile_nulls_ties_and_truncation(spark):
    """Hand-built frame: null accounting, deterministic tie-break on the
    md5 of the rendered value, and the 64-char rendering grain."""
    import pandas as pd

    from downscaledclimatedata_spark.operators.maintenance import (
        PROFILE_RENDER_LEN, table_profile)

    long_a = "x" * 200  # same 64-char prefix as long_b -> one rendered value
    long_b = "x" * 64 + "DIFFERENT-TAIL"
    pdf = pd.DataFrame({
        "k": ["a", "a", "b", None, "b"],
        "t": [long_a, long_b, None, None, "short"],
    })
    out = {r["col"]: r for r in
           table_profile(spark.createDataFrame(pdf), ["k", "t"]).collect()}

    k = out["k"]
    assert (k.n_rows, k.n_null, k.n_distinct) == (5, 1, 2)
    # tie a=2 b=2 -> md5-hash tie-break, not raw collation
    from downscaledclimatedata_spark.functions.hashing import md5_long
    from pyspark.sql import functions as F
    ha, hb = (spark.range(1).select(
        md5_long(F.lit("a")), md5_long(F.lit("b"))).collect()[0])
    assert k.top_value == ("a" if ha < hb else "b") and k.top_count == 2

    t = out["t"]
    # long_a and long_b collapse at the rendering grain
    assert t.n_distinct == 2 and t.top_count == 2
    assert t.top_value == "x" * PROFILE_RENDER_LEN
    assert (t.min_len, t.max_len) == (5, PROFILE_RENDER_LEN)
    assert t.n_null == 2


def test_cdc_apply_deletes_resurrection_and_passthrough(spark):
    """Hand-built log: upsert-then-delete removes, delete-then-upsert
    resurrects, untouched snapshot keys pass through, and a delta
    upsert overwrites the snapshot value."""
    import datetime as dt

    import pandas as pd

    from downscaledclimatedata_spark.operators.maintenance import (
        cdc_apply, cdc_fold)
    from pyspark.sql import functions as F

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    cols = ["user_id", "ts", "event_id", "op", "cents"]
    hist = spark.createDataFrame(pd.DataFrame([
        (1, t(0), 1, "U", 100),   # untouched by delta -> passthrough
        (2, t(1), 2, "U", 200),   # delta deletes
        (3, t(2), 3, "D", 0),     # tombstone in history -> not in snapshot
        (4, t(3), 4, "U", 400),   # delta overwrites
    ], columns=cols))
    delta = spark.createDataFrame(pd.DataFrame([
        (2, t(10), 5, "D", 0),
        (3, t(11), 6, "U", 333),  # resurrection
        (4, t(12), 7, "U", 444),
        (4, t(13), 8, "D", 0),    # ...then deleted: last delta op wins
        (5, t(14), 9, "U", 555),  # brand-new key
    ], columns=cols))
    snapshot = cdc_fold(hist).filter(F.col("op") == "U").drop("op")
    out = {r.user_id: r.cents
           for r in cdc_apply(snapshot, delta).collect()}
    assert out == {1: 100, 3: 333, 5: 555}


def test_incremental_join_delta_delta_term_is_load_bearing(spark):
    """All three incremental terms must be non-empty on the correlated
    split (the delta fractions share order keys), and dropping the
    delta-delta term must undercount — i.e. the identity is exercised,
    not vacuously true."""
    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.functions.hashing import md5_long
    from downscaledclimatedata_spark.operators.maintenance import (
        incremental_join)
    from downscaledclimatedata_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECTNESS

    orders = load_table(spark, SF_CORRECTNESS, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = (load_table(spark, SF_CORRECTNESS, "lineitem")
          .select(F.col("l_orderkey").alias("o_orderkey"),
                  F.round(F.col("l_extendedprice") * 100).cast("bigint")
                  .alias("cents")))
    o_d = md5_long(F.col("o_orderkey").cast("string"), "ivmo") % 5 == 0
    l_d = md5_long(F.col("o_orderkey").cast("string"), "ivml") % 7 == 0
    a_old, a_delta = orders.filter(~o_d), orders.filter(o_d)
    b_old, b_delta = li.filter(~l_d), li.filter(l_d)

    n_ab = a_delta.join(b_old, "o_orderkey").count()
    n_ba = a_old.join(b_delta, "o_orderkey").count()
    n_dd = a_delta.join(b_delta, "o_orderkey").count()
    assert n_ab > 0 and n_ba > 0 and n_dd > 0, (n_ab, n_ba, n_dd)

    full = orders.join(li, "o_orderkey").count()
    base = a_old.join(b_old, "o_orderkey").count()
    inc = incremental_join(a_old, a_delta, b_old, b_delta,
                           "o_orderkey").count()
    assert base + inc == full
    assert base + n_ab + n_ba == full - n_dd, (
        "delta-delta term must be load-bearing")


def test_constraint_check_detects_each_planted_class(spark):
    """Every constraint class must fire with the EXACT violation count a
    hand-built checked relation implies, and a clean relation must pass
    all six checks."""
    from downscaledclimatedata_spark.operators.maintenance import (
        CC_MIN_ROWS, constraint_check)

    rows = [
        # (orderkey, custkey, status, price)
        (1, 10, "O", 6000.0),        # clean
        (2, None, "F", 7000.0),      # completeness violation
        (3, 999, "P", 8000.0),       # fk violation (999 not a dim key)
        (4, 10, "X", 9000.0),        # domain violation
        (5, 11, "O", 1.0),           # range violation (too low)
        (6, 11, "O", 999999.0),      # range violation (too high)
        (7, 10, "O", 6000.0), (7, 10, "O", 6000.0), (7, 10, "O", 6000.0),
        # ^ orderkey 7 x3 -> 2 uniqueness violations
    ]
    checked = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double")
    dims = spark.createDataFrame([(10,), (11,)], "c_custkey long")
    rep = {r["constraint"]: r for r in
           constraint_check(checked, dims).collect()}
    assert rep["completeness_custkey"]["n_violations"] == 1
    assert rep["domain_orderstatus"]["n_violations"] == 1
    assert rep["range_totalprice"]["n_violations"] == 2
    assert rep["unique_orderkey"]["n_violations"] == 2
    assert rep["fk_custkey_customer"]["n_violations"] == 1
    # 9 rows < CC_MIN_ROWS -> the row-count gate fails too
    assert rep["min_row_count"]["n_violations"] == 1
    assert all(r["n_checked"] == 9 for r in rep.values())
    assert not any(r["passed"] for r in rep.values())

    clean = spark.createDataFrame(
        [(i, 10, "O", 6000.0) for i in range(CC_MIN_ROWS)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double")
    crep = constraint_check(clean, dims).collect()
    assert all(r["passed"] for r in crep)
    assert all(r["compliance_ppm"] == 1_000_000 for r in crep)


def test_partition_checksums_detect_single_row_corruption(spark):
    from downscaledclimatedata_spark.operators.maintenance import (
        partition_checksums)
    import datetime as dt

    def row(ok, month, qty):
        return (ok, ok * 3, ok * 7, 1, qty, 100.0, 0.05, 0.02, "N", "O",
                dt.datetime(1996, month, 2))

    schema = ("l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double, l_returnflag string, "
              "l_linestatus string, l_shipdate timestamp")
    rows = [row(i, 1 + i % 3, 10.0) for i in range(30)]
    a = spark.createDataFrame(rows, schema)
    # replica with ONE row's quantity changed in month 2
    corrupt = [row(i, 1 + i % 3, 10.0) if i != 4 else row(4, 2, 11.0)
               for i in range(30)]
    b = spark.createDataFrame(corrupt, schema)

    fa = {(r.part_year, r.part_month): r for r in
          partition_checksums(a).collect()}
    fb = {(r.part_year, r.part_month): r for r in
          partition_checksums(b).collect()}
    assert set(fa) == set(fb) == {(1996, 1), (1996, 2), (1996, 3)}
    diff = [k for k in fa if fa[k].xor_fp != fb[k].xor_fp]
    assert diff == [(1996, 2)]  # only the corrupted partition flags
    # counts and bounds agree everywhere (the corruption is value-level)
    assert all(fa[k].n_rows == fb[k].n_rows for k in fa)
    assert all(fa[k].min_orderkey == fb[k].min_orderkey for k in fa)

    # fingerprints are order/partitioning-independent: a reshuffled copy
    # is byte-identical in every partition summary
    fs = {(r.part_year, r.part_month): r for r in
          partition_checksums(a.repartition(7)).collect()}
    for k in fa:
        assert (fa[k].xor_fp, fa[k].n_rows, fa[k].sum_revenue) == \
               (fs[k].xor_fp, fs[k].n_rows, fs[k].sum_revenue)


def test_retention_plan_and_expiry_partition_level(spark, tmp_path):
    from downscaledclimatedata_spark.operators.maintenance import (
        expire_partitions, retention_plan)
    import datetime as dt

    rows = []
    eid = 0
    # 8 monthly partitions, 3 rows each, Jan 1995..Aug 1995
    for m in range(1, 9):
        for _ in range(3):
            rows.append((eid, eid, eid, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         dt.datetime(1995, m, 15)))
            eid += 1
    schema = ("l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double, l_returnflag string, "
              "l_linestatus string, l_shipdate timestamp")
    li = spark.createDataFrame(rows, schema)

    plan = {(r.part_year, r.part_month): r
            for r in retention_plan(li, retain_months=3).collect()}
    # horizon anchors at Aug: keep Jun/Jul/Aug, expire Jan..May
    assert all(plan[(1995, m)].keep for m in (6, 7, 8))
    assert all(not plan[(1995, m)].keep for m in range(1, 6))
    assert abs(sum(r.row_share for r in plan.values()) - 1.0) < 1e-12

    src = str(tmp_path / "src")
    li.write.parquet(src)
    out = str(tmp_path / "kept")
    rep = expire_partitions(spark, src, out, retain_months=3)
    assert rep == {"dropped_rows": 15, "kept_rows": 9,
                   "dropped_parts": 5, "kept_parts": 3}
    kept = spark.read.parquet(out)
    assert kept.count() == 9
    # hive layout: partition directories exist only for survivors
    import os
    months = sorted(d for d in os.listdir(out) if d.startswith("part_year="))
    assert months == ["part_year=1995"]
    sub = sorted(os.listdir(os.path.join(out, "part_year=1995")))
    assert [s for s in sub if s.startswith("part_month=")] == [
        "part_month=6", "part_month=7", "part_month=8"]


def test_orphan_file_report_three_classes(spark, tmp_path):
    from downscaledclimatedata_spark.operators.listing import (
        listing_from_fs)
    from downscaledclimatedata_spark.operators.maintenance import (
        orphan_file_report)
    import os

    root = tmp_path / "tbl"
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, part_year int")
    df.write.partitionBy("part_year").parquet(str(root))
    # snapshot manifest BEFORE planting junk
    manifest = listing_from_fs(spark, str(root)).select("key").cache()
    manifest.count()
    # class 1: non-data file inside a partition dir
    pdir = next(p for p in os.listdir(root) if p.startswith("part_year="))
    (root / pdir / "notes.txt").write_text("junk")
    # class 2: stray non-partition subtree with a parquet-named file
    os.makedirs(root / "backup")
    (root / "backup" / "old.parquet").write_bytes(b"\x00")
    # class 3: a well-formed data file the manifest doesn't know
    import shutil
    real = next(f for f in os.listdir(root / pdir) if f.endswith(".parquet"))
    shutil.copy(root / pdir / real, root / pdir / "smuggled.parquet")

    rep = {r.key: r for r in
           orphan_file_report(spark, str(root), manifest).collect()}
    assert f"{pdir}/notes.txt" in rep
    assert rep[f"{pdir}/notes.txt"].bad_suffix
    assert rep["backup/old.parquet"].bad_layout
    assert not rep["backup/old.parquet"].bad_suffix
    assert rep[f"{pdir}/smuggled.parquet"].unreferenced
    assert not rep[f"{pdir}/smuggled.parquet"].bad_layout
    # nothing legitimate is flagged
    assert all(("notes" in k) or ("backup" in k) or ("smuggled" in k)
               for k in rep)
    # without a manifest only structural classes fire
    rep2 = {r.key for r in orphan_file_report(spark, str(root)).collect()}
    assert rep2 == {f"{pdir}/notes.txt", "backup/old.parquet"}


def test_delete_orphans_removes_only_flagged(spark, tmp_path):
    import os
    from downscaledclimatedata_spark.operators.listing import (
        listing_from_fs)
    from downscaledclimatedata_spark.operators.maintenance import (
        delete_orphans, orphan_file_report)

    root = tmp_path / "tbl2"
    spark.createDataFrame([(1, 10)], "k long, part_year int") \
        .write.partitionBy("part_year").parquet(str(root))
    manifest = listing_from_fs(spark, str(root)).select("key").cache()
    manifest.count()
    pdir = next(p for p in os.listdir(root) if p.startswith("part_year="))
    junk = root / pdir / "junk.tmp"
    junk.write_text("x" * 64)
    n_before = sum(len(fs) for _, _, fs in os.walk(root))
    rep = delete_orphans(spark, str(root), manifest)
    assert rep["n_deleted"] == 1 and rep["bytes_reclaimed"] == 64
    assert not junk.exists()
    # every legitimate file survived, and the table still reads
    assert sum(len(fs) for _, _, fs in os.walk(root)) == n_before - 1
    assert spark.read.parquet(str(root)).count() == 1
    # second pass: nothing left to delete
    assert orphan_file_report(spark, str(root), manifest).count() == 0


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    from pyspark.sql import functions as F
    from downscaledclimatedata_spark.operators.maintenance import (
        write_audit_publish)
    import os

    final = str(tmp_path / "published")
    audits = [("v_null_key", F.col("k").isNull()),
              ("v_neg", F.col("x") < 0)]
    good = spark.createDataFrame([(1, 5), (2, 7)], "k long, x long")
    rep = write_audit_publish(spark, good, final, audits)
    assert rep["passed"] and rep["published"]
    assert rep == {**rep, "v_null_key": 0, "v_neg": 0, "n_rows": 2}
    assert spark.read.parquet(final).count() == 2

    bad = spark.createDataFrame([(None, 5), (3, -1)], "k long, x long")
    final2 = str(tmp_path / "published2")
    rep2 = write_audit_publish(spark, bad, final2, audits)
    assert not rep2["passed"] and not rep2["published"]
    assert rep2["v_null_key"] == 1 and rep2["v_neg"] == 1
    assert not os.path.exists(final2)               # readers never see it
    assert os.path.exists(rep2["staging"])          # kept for inspection

    # a failed publish does not clobber a previous good snapshot
    rep3 = write_audit_publish(spark, bad, final, audits)
    assert not rep3["published"]
    assert spark.read.parquet(final).count() == 2


def test_write_audit_publish_failed_rename_restores_prior(
        spark, tmp_path, monkeypatch):
    """If the staging->final rename fails AFTER audits pass (EXDEV
    across mounts, permissions), readers must still see the PRIOR
    snapshot — the publish order renames the live table aside first
    and restores it on failure, never deleting it up front."""
    import os

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.functions import publish
    from downscaledclimatedata_spark.operators.maintenance import (
        write_audit_publish)

    final = str(tmp_path / "published")
    audits = [("v_neg", F.col("x") < 0)]
    v1 = spark.createDataFrame([(1, 5), (2, 7)], "k long, x long")
    assert write_audit_publish(spark, v1, final, audits)["published"]

    real_rename = os.rename

    def failing_rename(src, dst):
        if src in publish.staging_paths(final) and dst == final:
            raise OSError(18, "Invalid cross-device link")  # EXDEV
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    v2 = spark.createDataFrame([(3, 9)], "k long, x long")
    import pytest
    with pytest.raises(OSError):
        write_audit_publish(spark, v2, final, audits)
    monkeypatch.undo()
    # the prior snapshot survived the failed publish, byte for byte
    assert spark.read.parquet(final).count() == 2
    assert not os.path.exists(publish.aside_path(final))
    assert publish.staging_paths(final) == []


def test_read_evolved_widens_and_nullfills(spark, tmp_path):
    """Three parquet generations with drifted schemas — int->bigint
    widening (which mergeSchema refuses), float->double, columns added
    and columns absent — read back as ONE table with the union-widened
    schema; a string<->numeric drift raises instead of coercing."""
    import pytest

    from downscaledclimatedata_spark.operators.maintenance import (
        read_evolved)

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    v3 = str(tmp_path / "v3")
    spark.createDataFrame([(1, 1.5, "a")],
                          "id int, x float, tag string").write.parquet(v1)
    spark.createDataFrame([(2**40, 2.5, 7)],
                          "id bigint, x double, extra int"
                          ).write.parquet(v2)
    spark.createDataFrame([(3,)], "id int").write.parquet(v3)

    got = read_evolved(spark, [v1, v2, v3])
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types == {"id": "bigint", "x": "double", "tag": "string",
                     "extra": "int"}
    rows = {r.id: r for r in got.collect()}
    assert rows[1].tag == "a" and rows[1].extra is None
    assert rows[2**40].x == 2.5 and rows[2**40].tag is None
    assert rows[3].x is None and rows[3].extra is None
    # mergeSchema itself refuses this tree (the gap this op fills)
    with pytest.raises(Exception):
        spark.read.option("mergeSchema", "true").parquet(
            str(tmp_path / "v*")).collect()

    bad = str(tmp_path / "bad")
    spark.createDataFrame([("oops",)], "id string").write.parquet(bad)
    with pytest.raises(ValueError, match="incompatible"):
        read_evolved(spark, [v1, bad])


def test_read_evolved_rename_composes_with_widening(spark, tmp_path):
    """orig -> renamed -> renamed+widened: the mapping re-unifies the
    history (zero nulls) and the widening ladder still applies; chained
    aliases map each historical name straight to the current one."""
    from downscaledclimatedata_spark.operators.maintenance import (
        read_evolved)

    g0, g1, g2 = (str(tmp_path / f"g{i}") for i in range(3))
    spark.createDataFrame([(1, 10)],
                          "id int, amount_cents int").write.parquet(g0)
    spark.createDataFrame([(2, 20)], "id int, cents int").write.parquet(g1)
    spark.createDataFrame([(3, 2**40)],
                          "id int, cents bigint").write.parquet(g2)
    got = read_evolved(spark, [g0, g1, g2],
                       renames={"amount_cents": "cents"})
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types == {"id": "int", "cents": "bigint"}
    rows = {r.id: r.cents for r in got.collect()}
    assert rows == {1: 10, 2: 20, 3: 2**40}
    # two aliases of one field across DIFFERENT generations are fine
    g3 = str(tmp_path / "g3")
    spark.createDataFrame([(4, 40)], "id int, amt int").write.parquet(g3)
    got2 = read_evolved(spark, [g0, g3, g2],
                        renames={"amount_cents": "cents", "amt": "cents"})
    assert {r.id: r.cents for r in got2.collect()} == \
        {1: 10, 3: 2**40, 4: 40}


def test_read_evolved_rename_refuses_ambiguity(spark, tmp_path):
    import pytest

    from downscaledclimatedata_spark.operators.maintenance import (
        read_evolved)

    both = str(tmp_path / "both")
    spark.createDataFrame([(1, 10, 11)],
                          "id int, amount_cents int, cents int"
                          ).write.parquet(both)
    with pytest.raises(ValueError, match="BOTH names"):
        read_evolved(spark, [both], renames={"amount_cents": "cents"})
    co = str(tmp_path / "co")
    spark.createDataFrame([(1, 10, 11)],
                          "id int, amount_cents int, amt int"
                          ).write.parquet(co)
    with pytest.raises(ValueError, match="co-occur"):
        read_evolved(spark, [co], renames={"amount_cents": "cents",
                                           "amt": "cents"})
    with pytest.raises(ValueError, match="itself"):
        read_evolved(spark, [co], renames={"cents": "cents"})


def test_read_evolved_int_float_widens_to_double_bigint_refuses(
        spark, tmp_path):
    """int-vs-float drift widens to DOUBLE (lossless — double holds
    every int32 exactly; float's 24-bit mantissa does not hold ints
    above 2^24), while bigint-vs-float/double RAISES — long does not
    fit a double above 2^53, so "widening" would silently corrupt
    large ids (the parquet/Iceberg evolution rules forbid it)."""
    import pytest

    from downscaledclimatedata_spark.operators.maintenance import (
        _widen, read_evolved)

    assert _widen("int", "float") == "double"
    assert _widen("float", "smallint") == "double"
    assert _widen("int", "double") == "double"
    for other in ("float", "double"):
        with pytest.raises(ValueError, match="2\\^53"):
            _widen("bigint", other)

    ia = str(tmp_path / "ia")
    fb = str(tmp_path / "fb")
    big = 16_777_217  # 2^24 + 1: float would round it to 16_777_216
    spark.createDataFrame([(big,)], "v int").write.parquet(ia)
    spark.createDataFrame([(0.5,)], "v float").write.parquet(fb)
    got = read_evolved(spark, [ia, fb])
    assert got.schema["v"].dataType.simpleString() == "double"
    assert sorted(r.v for r in got.collect()) == [0.5, float(big)]

    lb = str(tmp_path / "lb")
    spark.createDataFrame([(2**60,)], "v bigint").write.parquet(lb)
    with pytest.raises(ValueError, match="incompatible"):
        read_evolved(spark, [lb, fb])


def test_read_evolved_decimal_precision_widens_scale_refuses(
        spark, tmp_path):
    """decimal(p,s) -> decimal(p',s): same-scale precision growth is the
    other common parquet/Iceberg decimal evolution — EXACT (every
    decimal(12,2) value is a decimal(18,2) value, no float transit;
    pinned with a value whose unscaled long exceeds 2^53, which any
    double round-trip would corrupt). A SCALE change refuses: either
    direction alters stored values. decimal-vs-float also refuses (the
    exact-vs-binary coercion is lossy both ways)."""
    from decimal import Decimal

    import pytest

    from downscaledclimatedata_spark.operators.maintenance import (
        _widen, read_evolved)

    assert _widen("decimal(12,2)", "decimal(18,2)") == "decimal(18,2)"
    assert _widen("decimal(18,2)", "decimal(12,2)") == "decimal(18,2)"
    assert _widen("decimal(7,0)", "decimal(7,0)") == "decimal(7,0)"
    with pytest.raises(ValueError, match="SCALE"):
        _widen("decimal(12,2)", "decimal(12,4)")
    with pytest.raises(ValueError, match="incompatible"):
        _widen("decimal(12,2)", "double")
    with pytest.raises(ValueError, match="incompatible"):
        _widen("decimal(12,2)", "int")

    lo = str(tmp_path / "dlo")
    hi = str(tmp_path / "dhi")
    # unscaled 2^53 + 1: survives only an exact decimal widening
    big = Decimal("90071992547409.93")
    spark.createDataFrame([(Decimal("12345.67"),)], "v decimal(12,2)") \
        .write.parquet(lo)
    spark.createDataFrame([(big,)], "v decimal(18,2)").write.parquet(hi)
    got = read_evolved(spark, [lo, hi])
    assert got.schema["v"].dataType.simpleString() == "decimal(18,2)"
    assert sorted(r.v for r in got.collect()) == [Decimal("12345.67"), big]

    bad = str(tmp_path / "dbad")
    spark.createDataFrame([(Decimal("1.2345"),)], "v decimal(12,4)") \
        .write.parquet(bad)
    with pytest.raises(ValueError, match="SCALE"):
        read_evolved(spark, [lo, bad])


# --- compaction_plan --------------------------------------------------------------

def test_compaction_nfd_hand_case(spark):
    from downscaledclimatedata_spark.operators.maintenance import (
        compaction_plan)
    files = spark.createDataFrame(
        [("p1", 1, 60), ("p1", 2, 50), ("p1", 3, 40), ("p1", 4, 30)],
        "part string, file_id long, size_bytes long")
    got = {r.bin_id: (r.n_files, r.bin_bytes)
           for r in compaction_plan(files, target=100).collect()}
    # desc order 60,50,40,30: [60] | [50,40] | [30]
    assert got == {0: (1, 60), 1: (2, 90), 2: (1, 30)}


def test_compaction_oversized_file_own_bin(spark):
    from downscaledclimatedata_spark.operators.maintenance import (
        compaction_plan)
    files = spark.createDataFrame(
        [("p1", 1, 150), ("p1", 2, 10)],
        "part string, file_id long, size_bytes long")
    got = {r.bin_id: (r.n_files, r.bin_bytes)
           for r in compaction_plan(files, target=100).collect()}
    assert got == {0: (1, 150), 1: (1, 10)}


def test_compaction_partitions_independent(spark):
    from downscaledclimatedata_spark.operators.maintenance import (
        compaction_plan)
    files = spark.createDataFrame(
        [("a", 1, 90), ("a", 2, 90), ("b", 3, 10), ("b", 4, 10)],
        "part string, file_id long, size_bytes long")
    rows = compaction_plan(files, target=100).collect()
    a = sorted((r.bin_id, r.bin_bytes) for r in rows if r.part == "a")
    b = sorted((r.bin_id, r.bin_bytes) for r in rows if r.part == "b")
    assert a == [(0, 90), (1, 90)] and b == [(0, 20)]


# --- manifest_diff ----------------------------------------------------------------

def test_manifest_diff_all_four_statuses(spark):
    import datetime as dt

    from downscaledclimatedata_spark.operators.maintenance import (
        manifest_diff)

    def li(rows):
        return spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long, l_suppkey long, "
                  "l_linenumber int, l_quantity double, "
                  "l_extendedprice double, l_discount double, "
                  "l_tax double, l_returnflag string, "
                  "l_linestatus string, l_shipdate date")

    def row(k, month, qty=1.0):
        return (k, 1, 1, 1, qty, 100.0, 0.0, 0.0, "N", "O",
                dt.date(2024, month, 15))

    a = li([row(1, 1), row(2, 2), row(3, 3), row(4, 4)])
    # month 1 unchanged; month 2 qty bumped (changed); month 3 dropped
    # (removed); month 5 new (added)
    b = li([row(1, 1), row(2, 2, qty=2.0), row(4, 4), row(5, 5)])
    got = {(r.part_year, r.part_month): (r.status, r.rows_a, r.rows_b)
           for r in manifest_diff(a, b).collect()}
    assert got == {
        (2024, 1): ("unchanged", 1, 1),
        (2024, 2): ("changed", 1, 1),
        (2024, 3): ("removed", 1, 0),
        (2024, 4): ("unchanged", 1, 1),
        (2024, 5): ("added", 0, 1),
    }
