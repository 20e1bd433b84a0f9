"""End-to-end corpus build: raw documents -> written training shards,
every stage the oracle-checked operator, stage counts monotone, output
readable in the seeded order."""

from __future__ import annotations

import glob

import pytest

from downscaledclimatedata_spark.operators.prep import quality_filter
from downscaledclimatedata_spark.pipeline import build_training_corpus
from downscaledclimatedata_spark.session import _LOCAL_DEFAULTS
from downscaledclimatedata_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_build_training_corpus_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "shards")
    res = build_training_corpus(docs, out, budget_tokens=5_000, n_shards=4)

    assert res.n_input == docs.count()
    n_quality = quality_filter(docs).filter("passes").count()
    assert res.n_quality_pass == n_quality
    # monotone funnel
    assert res.n_input >= res.n_quality_pass >= res.n_after_dedup \
        >= res.n_sampled > 0
    assert res.total_tokens > 0 and res.n_shards == 4

    # written artifact: shard dirs, cleaned schema, shuffle order columns
    dirs = sorted(glob.glob(out + "/shard=*"))
    assert 0 < len(dirs) <= 4
    back = spark.read.parquet(out)
    assert res.n_sampled == back.count()
    cols = set(back.columns)
    assert {"doc_id", "clean_text", "content_text", "n_pii", "pos",
            "source", "shard"} <= cols


def test_build_decontaminates_planted_eval_gram(spark, tmp_path):
    """A training doc carrying a planted benchmark 5-gram must be
    dropped by the opt-in decontamination stage (and counted), while an
    otherwise-identical clean doc flows through; without eval_docs the
    funnel is unchanged and n_decontaminated == 0."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    secret = "zebra quantum marmalade vortex incantation"
    # two synthetic docs long enough to pass the quality gate: one
    # embeds the eval 5-gram verbatim, one does not
    filler = ("the quick brown fox jumps over a lazy dog while many "
              "other animals watch the field in quiet wonder and the "
              "day goes on with more of the same story being told ")
    base = docs.limit(0)
    extra = spark.createDataFrame(
        [(900001, filler + secret + " " + filler, "planted"),
         (900002, filler + "innocent words here " + filler, "planted")],
        "doc_id long, text string, source string")
    corpus = docs.select("doc_id", "text", "source").unionByName(
        extra.select(*["doc_id", "text", "source"]), allowMissingColumns=False) \
        if {"doc_id", "text", "source"} <= set(docs.columns) else base
    eval_docs = spark.createDataFrame(
        [(1, f"benchmark question {secret} end")],
        "doc_id long, text string")

    out = str(tmp_path / "shards_decon")
    res = build_training_corpus(corpus, out, budget_tokens=5_000,
                                n_shards=4, eval_docs=eval_docs)
    assert res.n_decontaminated >= 1
    # the planted contaminated doc is gone from the written artifact...
    back = spark.read.parquet(out)
    assert back.filter(F.col("doc_id") == 900001).count() == 0
    # ...and the funnel stays monotone around the new stage
    assert res.n_quality_pass - res.n_decontaminated >= res.n_after_dedup

    # without eval_docs the stage is inert
    out2 = str(tmp_path / "shards_nodecon")
    res2 = build_training_corpus(corpus, out2, budget_tokens=5_000,
                                 n_shards=4)
    assert res2.n_decontaminated == 0
    assert res2.n_quality_pass >= res.n_quality_pass


def test_build_is_zero_extra_pass(spark, tmp_path):
    """The funnel counters ride Observations on each stage's own
    materialization: the quality rule chain executes exactly once, and
    no downstream plan can re-evaluate it (lineage is cut by the stage
    checkpoint).
    """
    from pyspark.sql import Observation

    from downscaledclimatedata_spark.operators.prep import quality_filter
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()

    # (a) the Observation pattern the builder uses counts every input
    # row exactly once under an eager localCheckpoint — if the scoring
    # projection were in the materialized plan twice, the observed
    # n_input would be 2x.
    from pyspark.sql import functions as F

    obs = Observation("once")
    flagged = quality_filter(docs, keep_input=True).observe(
        obs, F.count(F.lit(1)).alias("n_input"))
    chk = flagged.filter("passes").select(*docs.columns).localCheckpoint()
    assert obs.get["n_input"] == n_docs

    # (b) downstream of the checkpoint the quality expressions are
    # physically gone: the plan reads materialized rows, so nothing a
    # later stage does can re-run the rule chain.
    plan = chk._jdf.queryExecution().executedPlan().toString()
    assert "regexp_count" not in plan and "array_distinct" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan" in plan

    # (c) keep_input=True scores identically to the narrow projection.
    a = quality_filter(docs).filter("passes").count()
    b = quality_filter(docs, keep_input=True).filter("passes").count()
    assert a == b == chk.count()


def test_pipeline_cli(spark, tmp_path, capsys):
    """The __main__ entry drives the same build from arguments."""
    import json

    from downscaledclimatedata_spark import pipeline
    out = str(tmp_path / "cli_shards")
    pipeline.main(["--input", f"{SF_SMOKE}/documents.parquet",
                   "--output", out, "--budget-tokens", "3000",
                   "--shards", "2"])
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["n_shards"] == 2 and got["n_sampled"] > 0
    assert spark.read.parquet(out).count() == got["n_sampled"]


def test_build_normalizes_unicode_before_hashing(spark, tmp_path):
    """With normalize_unicode=True, decomposed text is NFC'd BEFORE any
    hashing stage: the written shard text contains no combining marks
    from decomposable sequences, n_normalized counts exactly the
    changed docs, and a composed/decomposed pair of the same text
    collapses in the dedup stage (identical shingles)."""
    import unicodedata

    from downscaledclimatedata_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    base = load_table(spark, SF_SMOKE, "documents")
    decomposed = ("the café corpus needs canonical text " * 12).strip()
    composed = unicodedata.normalize("NFC", decomposed)
    assert composed != decomposed
    extra = spark.createDataFrame(
        [(900001, decomposed, "en", "plant", len(decomposed)),
         (900002, composed, "en", "plant", len(composed))],
        base.schema)
    docs = base.unionByName(extra)

    out = str(tmp_path / "shards")
    res = build_training_corpus(docs, out, budget_tokens=5_000, n_shards=4,
                                normalize_unicode=True)
    assert res.n_normalized == 1  # only the decomposed plant changed
    # after normalization the two plants are byte-identical -> the
    # near-dup prune keeps exactly one
    back = spark.read.parquet(out)
    plants = back.filter(F.col("source") == "plant").collect()
    assert len(plants) <= 1
    # no decomposable sequence survives anywhere in the written text
    for r in back.select("content_text").limit(200).collect():
        t = r.content_text or ""
        assert unicodedata.normalize("NFC", t) == t

    # default-off path unchanged: n_normalized reports 0
    res2 = build_training_corpus(base, str(tmp_path / "s2"),
                                 budget_tokens=2_000, n_shards=2)
    assert res2.n_normalized == 0


def test_normalize_unicode_preserves_null_text(spark, tmp_path):
    """The opt-in NFC stage must not change NULL handling: a NULL-text
    document flows through quality/dedup/decontamination with the SAME
    semantics under normalize_unicode=True as under the default path
    (previously fillna('') silently rewrote NULL -> empty string)."""
    from downscaledclimatedata_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "documents").limit(40)
    extra = spark.createDataFrame(
        [(900101, None, "en", "nulltext", 0)], base.schema)
    docs = base.unionByName(extra)

    res_off = build_training_corpus(
        docs, str(tmp_path / "off"), budget_tokens=4_000, n_shards=2)
    res_on = build_training_corpus(
        docs, str(tmp_path / "on"), budget_tokens=4_000, n_shards=2,
        normalize_unicode=True)
    # identical funnel under both configurations
    assert res_on.n_quality_pass == res_off.n_quality_pass
    assert res_on.n_after_dedup == res_off.n_after_dedup
    # the NULL row is not counted as "normalized" (nothing changed)
    ids_on = {r.doc_id for r in
              spark.read.parquet(str(tmp_path / "on"))
              .select("doc_id").collect()}
    ids_off = {r.doc_id for r in
               spark.read.parquet(str(tmp_path / "off"))
               .select("doc_id").collect()}
    assert ids_on == ids_off


def test_build_keep_quality_elects_clean_representative(spark, tmp_path):
    """keep='quality' routes the prune through the quality election: a
    near-dup pair whose LOW id is the degraded copy keeps the clean
    high-id doc; the default min-id rule on the same corpus keeps the
    degraded one. Same funnel counts either way (one survivor)."""
    from downscaledclimatedata_spark.operators.prep import quality_filter
    from downscaledclimatedata_spark.sources.tables import load_table

    # crafted to PASS the Gopher gate (mostly-unique short words, two
    # stopword kinds, mean word len in [4,10], top-token ratio < 0.12
    # even after the spam filler) while the filler crushes the
    # degraded copy's unique-token quality term
    words = []
    for i in range(230):
        words.append(f"tok{i}wd")
        if i % 40 == 0:
            words.extend(["the", "of"])
    rich = " ".join(words)
    degraded = rich + " spam" * 28
    base = load_table(spark, SF_SMOKE, "documents").limit(30)
    extra = spark.createDataFrame(
        [(910, degraded, "en", "plant", len(degraded)),
         (920, rich, "en", "plant", len(rich))], base.schema)
    docs = base.unionByName(extra)
    # the planted pair must survive the quality gate or no pair forms
    gate = {r.doc_id for r in
            quality_filter(extra, keep_input=True)
            .filter("passes").select("doc_id").collect()}
    assert gate == {910, 920}, f"planted docs fell to quality: {gate}"

    kept = {}
    for keep in ("min_id", "quality"):
        out = str(tmp_path / keep)
        res = build_training_corpus(docs, out, budget_tokens=10**9,
                                    n_shards=2, keep=keep)
        ids = {r.doc_id for r in
               spark.read.parquet(out).select("doc_id").collect()}
        kept[keep] = ids & {910, 920}
        assert res.n_after_dedup < res.n_quality_pass  # a prune happened
    assert kept["min_id"] == {910}
    assert kept["quality"] == {920}


def test_build_audited_publish_gates_and_preserves_prior(spark, tmp_path):
    """audits= routes the shard write through write-audit-publish: a
    clean audit publishes the hive-partitioned shards atomically; a
    failing audit leaves the PRIOR published corpus untouched and the
    staged shards on disk for inspection."""
    import os

    from pyspark.sql import functions as F

    from downscaledclimatedata_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    out = str(tmp_path / "corpus")
    ok = [("v_null_text", F.col("content_text").isNull()),
          ("v_bad_shard", F.col("shard").isNull())]
    res1 = build_training_corpus(docs, out, budget_tokens=5_000,
                                 n_shards=2, audits=ok)
    rep1 = res1.publish_report
    assert rep1["passed"] and rep1["published"]
    assert rep1["v_null_text"] == 0 and rep1["n_rows"] == res1.n_sampled
    assert spark.read.parquet(out).count() == res1.n_sampled

    # second epoch fails its audit: every staged row "violates"
    res2 = build_training_corpus(docs, out, budget_tokens=5_000,
                                 n_shards=2, seed="epoch1",
                                 audits=[("v_always", F.lit(True))])
    rep2 = res2.publish_report
    assert not rep2["passed"] and not rep2["published"]
    assert rep2["v_always"] == rep2["n_rows"] > 0
    assert os.path.exists(rep2["staging"])          # kept for inspection
    # the prior epoch's corpus is still what readers see
    assert spark.read.parquet(out).count() == res1.n_sampled


def _write_plans(spark, out_dir: str) -> list[str]:
    """Physical-plan descriptions of the file writes into ``out_dir``
    that the session's SQL status store still holds."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())]
    return [p for p in plans
            if "InsertIntoHadoopFsRelationCommand" in p and out_dir in p]


def _final_shard_exchanges(plan: str) -> list[str]:
    """The ``shard``-keyed Exchanges of an executed (AQE final) plan."""
    import re

    final = plan.split("== Initial Plan ==")[0]
    ids = re.findall(r"Exchange \((\d+)\)", final)
    args = [re.search(rf"\n\({i}\) Exchange\n(?:.*\n)*?Arguments: (.*)",
                      plan).group(1) for i in ids]
    return [a for a in args if a.startswith("hashpartitioning(shard#")]


@pytest.mark.parametrize("session", ["repo", "plain"])
def test_shard_write_shuffles_once(spark, tmp_path, session):
    """write_training_shards always repartitions by shard, and the
    build's write still runs ONE shard Exchange: global_shuffle's window
    already hash-partitions on shard, so EnsureRequirements drops the
    repartition. Checked on the repo session and on one with Spark's own
    defaults (8 shuffle partitions)."""
    s = spark
    if session == "plain":
        s = spark.newSession()
        for key in _LOCAL_DEFAULTS:
            if key.startswith("spark.sql."):
                s.conf.unset(key)
        s.conf.set("spark.sql.shuffle.partitions", "8")
    out = str(tmp_path / "shards")
    docs = load_table(s, SF_SMOKE, "documents")
    build_training_corpus(docs, out, budget_tokens=5_000, n_shards=4)
    (plan,) = _write_plans(s, out)
    assert len(_final_shard_exchanges(plan)) == 1, plan


def test_build_rejects_mixture_products_past_int64(spark, tmp_path):
    """budget_tokens * w must stay a bigint, as domain_mixture_sample
    computes it: past 2**63 the build raises before writing anything."""
    docs = load_table(spark, SF_SMOKE, "documents")
    out = tmp_path / "shards"
    with pytest.raises(ValueError, match="int64"):
        build_training_corpus(docs, str(out), budget_tokens=2**62,
                              n_shards=2)
    assert not out.exists()
