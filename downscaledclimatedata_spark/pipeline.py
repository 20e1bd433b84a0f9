"""End-to-end training-corpus builder: the one-call user-facing API.

Chains the engine's prep/dedup family into the artifact a training run
consumes — raw documents in, quality-filtered deduplicated shard files
out, with a corpus report and zero-extra-pass counters:

    raw docs
      -> Gopher quality rule chain      (operators/prep.quality_filter)
      -> benchmark decontamination      (opt-in eval_docs=; operators/
                                         dedup.contaminated_doc_ids)
      -> clean + PII redaction          (operators/prep.clean_documents)
      -> near-dup prune                 (minhash LSH pairs -> star
                                         components -> keep min-id reps)
      -> temperature domain mixture     (operators/prep.domain_mixture)
      -> seeded global shuffle          (operators/prep.global_shuffle)
      -> one pos-ordered file per shard (operators/prep.write_training_shards)

Every stage is the SAME operator the registry oracle-checks; this module
only composes them. Also runnable as a CLI:

    python -m downscaledclimatedata_spark.pipeline \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/shards --budget-tokens 20000 --shards 8

Scale: inherits each stage's documented shape — no stage introduces a
global sort or an unbounded broadcast; the heaviest shuffles are the
LSH band join and the two corpus-bytes rewrites (winner election +
shard write).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from downscaledclimatedata_spark.functions.hashing import md5_long
from downscaledclimatedata_spark.functions.rows import literal_rows
from downscaledclimatedata_spark.operators.dedup import (
    contaminated_doc_ids, lsh_candidate_pairs, minhash_signatures,
    prune_corpus, prune_corpus_quality)
from downscaledclimatedata_spark.operators.prep import (
    MIX_ACCEPT_MOD, clean_documents, global_shuffle,
    observed, observed_get, quality_filter, write_training_shards)


@dataclass(frozen=True)
class CorpusBuildResult:
    n_input: int
    n_quality_pass: int
    n_decontaminated: int  # docs dropped for eval-set n-gram overlap
    n_after_dedup: int
    n_sampled: int
    total_tokens: int
    n_shards: int
    out_dir: str
    n_normalized: int = 0  # docs whose text changed under NFC (opt-in)
    publish_report: dict | None = None  # WAP audit report (audits= opt-in)


def build_training_corpus(docs: DataFrame, out_dir: str, *,
                          budget_tokens: int, n_shards: int = 16,
                          seed: str = "epoch0",
                          eval_docs: DataFrame | None = None,
                          normalize_unicode: bool = False,
                          keep: str = "min_id",
                          audits: list | None = None,
                          stage_times: dict | None = None
                          ) -> CorpusBuildResult:
    """Raw documents -> written training shards; returns stage counts.

    Zero-extra-pass funnel: every stage count is an ``Observation``
    riding the stage's own materialization — there is NO separate
    ``.count()`` job anywhere, and each expensive projection executes
    exactly once:

    * quality scoring uses ``quality_filter(keep_input=True)`` so the
      verdict is a column on the full row — no score→select join (the
      previous semi-join shuffled the whole corpus) — and the stage is
      ``localCheckpoint``'ed so the two dedup consumers (signatures +
      corpus side of the prune) read the materialized rows instead of
      re-running the rule chain;
    * decontamination (r14) fuses into the SAME checkpoint: the
      contaminated-id set derives from the raw input (exact — a doc's
      gram set does not depend on which corpus subset it sits in, and
      the stock decon oracle scores every non-eval doc), so its
      anti-join rides the quality materialization instead of paying a
      second full-row checkpoint of the corpus;
    * the cleaned sample is NOT checkpointed: since the ranked rows are
      carried through the shuffle window directly (``carry_rows``), the
      shard write is its only consumer — the PII projection runs exactly
      once, inside the write, and its Observation fires there.

    The per-doc mixture acceptance re-derives each source's rate from
    the per-source integer token masses, collected once and folded into
    correctly-rounded IEEE doubles with exactly ``domain_mixture_sample``'s
    arithmetic — bit-identical rates, so the sample drawn here is
    exactly the one the registered spec (and the funnel oracle)
    accounts for, with the acceptance filter folded into the shard
    write's scan instead of a broadcast join.

    ``keep`` picks the near-dup representative rule: ``"min_id"``
    (default, the registry-oracled funnel) or ``"quality"`` — every
    component keeps its highest-quality member (dedup.py
    ``prune_corpus_quality``; ``quality_keep``'s ``beats_min_id``
    measures what the naive rule costs on a given corpus).

    ``audits`` (opt-in, list of (name, violation Column) pairs) routes
    the shard write through write-audit-publish
    (maintenance.py ``publish_audited``): shards stage beside
    ``out_dir``, the audits run over the STAGED BYTES, and only a clean
    report publishes — a failed audit leaves any prior snapshot at
    ``out_dir`` untouched and the staging files for inspection
    (``publish_report`` carries the verdict either way).
    """
    import time as _time

    from pyspark.sql import Observation

    # stage_times (opt-in, pass a dict): per-stage wall seconds at the
    # funnel's EAGER boundaries (each stage materializes via its
    # localCheckpoint / write, so boundary deltas attribute real work)
    # — the ladder's curvature-attribution hook, zero cost when None.
    _t_last = _time.perf_counter()

    def _mark(stage: str) -> None:
        nonlocal _t_last
        if stage_times is not None:
            now = _time.perf_counter()
            stage_times[stage] = round(now - _t_last, 3)
            _t_last = now

    # Stage 0 (opt-in): Unicode NFC canonicalization BEFORE any hashing
    # stage — composed-vs-decomposed encodings of the same text would
    # otherwise survive exact/near dedup as distinct documents. A
    # shuffle-free Arrow-batched projection; its changed-count
    # Observation rides stage 1's checkpoint action (the first
    # materialization of this lineage), so it costs no extra pass.
    obs_u = None
    if normalize_unicode:
        import unicodedata

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<t: string, changed: boolean>")
        def _nfc(col):
            import pandas as _pd
            # NULL text stays NULL (changed=False): the opt-in flag must
            # not alter NULL handling vs the non-normalized path — the
            # downstream quality/dedup/decon stages see identical inputs
            nfc = col.map(
                lambda t: t if t is None
                else unicodedata.normalize("NFC", t))
            changed = (nfc != col) & col.notna()
            return _pd.DataFrame({"t": nfc, "changed": changed})

        obs_u = Observation("pipeline_unicode")
        docs = (docs.withColumn("_u", _nfc(F.col("text")))
                .observe(obs_u, F.sum(F.col("_u.changed").cast("bigint"))
                         .alias("n_changed"))
                .withColumn("text", F.col("_u.t")).drop("_u"))

    # Stage 1 (+1b fused, r14): quality — ONE scan, ONE rule-chain
    # evaluation, no join — and, when eval_docs is given, benchmark
    # decontamination riding the SAME checkpoint. Decon runs BEFORE the
    # near-dup prune so a contaminated doc can never be elected the
    # cluster representative that survives dedup. The contaminated-id
    # set derives from the RAW input (column-pruned to id+text: no
    # quality-chain re-evaluation, and exact — the stock decon oracle
    # scores every non-eval doc; restricting its verdict to the quality
    # survivors via the anti-join is the same set); the eval-gram
    # relation is broadcast (benchmarks are MBs vs a 100 TB corpus) so
    # the corpus never shuffles on the gram. One localCheckpoint
    # materializes survivors and fires BOTH counters, where the split
    # form paid two full-row corpus checkpoints back to back.
    obs_q = Observation("pipeline_quality")
    flagged = quality_filter(docs, keep_input=True) \
        .observe(obs_q,
                 F.count(F.lit(1)).alias("n_input"),
                 F.sum(F.col("passes").cast("bigint")).alias("n_pass"))
    stage = flagged.filter("passes").select(*docs.columns)
    obs_c = None
    if eval_docs is not None:
        bad = contaminated_doc_ids(docs.select("doc_id", "text"), eval_docs)
        obs_c = Observation("pipeline_decon")
        stage = stage.join(bad, "doc_id", "left_anti") \
            .observe(obs_c, F.count(F.lit(1)).alias("n_rows"))
    quality_docs = stage.localCheckpoint()
    qm = obs_q.get
    # SUM over zero rows observes NULL (count observes 0) — an empty or
    # all-rejected corpus must report 0, like the oracle's coalesce
    n_input, n_quality = qm["n_input"], int(qm["n_pass"] or 0)
    n_normalized = int(obs_u.get["n_changed"] or 0) if obs_u else 0
    n_decon = (int(n_quality) - int(obs_c.get["n_rows"])
               if obs_c is not None else 0)
    _mark("quality_decon" if eval_docs is not None else "quality")

    # Stage 2: near-dup prune over the checkpointed survivors. When the
    # prune FOLDS to a pure scan filter (driver-tier labels, r14), the
    # deduped relation is NOT checkpointed: its two consumers (the
    # mixture stats collect below and the shard write) each re-apply a
    # free InSet filter over the already-checkpointed quality rows
    # instead of paying a second full-row corpus materialization, and
    # the n_dedup Observation fires on the stats collect. The
    # distributed prune (join against star labels) keeps the eager
    # checkpoint — two consumers would otherwise re-run the join, and
    # the iterative lineage must stay capped.
    if keep not in ("min_id", "quality"):
        raise ValueError(f"keep must be 'min_id' or 'quality': {keep!r}")
    prune = prune_corpus if keep == "min_id" else prune_corpus_quality
    sigs = minhash_signatures(quality_docs, "text", "doc_id")
    obs_d = Observation("pipeline_dedup")
    info: dict = {}
    deduped = prune(quality_docs, lsh_candidate_pairs(sigs, "doc_id"),
                    _info=info) \
        .observe(obs_d, F.count(F.lit(1)).alias("n_rows"))
    if not info.get("folded"):
        deduped = deduped.localCheckpoint()
    _mark("dedup")

    # Mixture rates driver-side (r14): the per-source rate is a pure
    # function of the per-source token mass, so ONE tiny collect of the
    # integer stats replaces domain_mixture_sample's broadcast-build
    # chain (its tokenize-once checkpoint + stats/total/realized stage
    # waves — the builder only ever consumed the |sources|-row rate
    # column). The arithmetic below mirrors the operator EXPRESSION BY
    # EXPRESSION in correctly-rounded IEEE doubles — floor(sqrt(double)),
    # exact int→double casts of the products, one double division,
    # min(1.0, ·) — so every rate is bit-identical to the operator's
    # (and the oracle's); the acceptance filter then folds into the
    # shard write's scan as a literal map lookup instead of a broadcast
    # hash join (a doc whose source is missing/NULL maps to NULL and is
    # dropped, exactly like the former inner join).
    import math

    from downscaledclimatedata_spark.functions.text import WS_RE
    toks = F.filter(F.split(F.lower(F.col("text")), WS_RE),
                    lambda x: x != "")
    stats = (deduped.groupBy("source")
             .agg(F.sum(F.coalesce(F.size(toks).cast("bigint"), F.lit(0)))
                  .alias("tok_s"))
             .collect())
    # first materialization of the (possibly unfolded-checkpoint-free)
    # deduped relation just ran — the n_dedup Observation has fired.
    # observed_get, not obs_d.get: an EMPTY folded relation can have
    # its metrics node eliminated by AQE empty-relation propagation.
    n_dedup = observed_get(obs_d, {"n_rows": 0})["n_rows"]
    # a NULL-source group contributes its weight to total_w exactly as
    # the operator's stats aggregate does, but can never be a map key —
    # its docs fall to the NULL-lookup drop, like the former inner join
    ws = {r["source"]: int(math.floor(math.sqrt(float(r["tok_s"]))))
          for r in stats}
    total_w = sum(ws.values())
    rate_of = {}
    for r in stats:
        w_tok, b_w = total_w * r["tok_s"], budget_tokens * ws[r["source"]]
        if max(w_tok, b_w) >= 2**63:
            raise ValueError(
                f"mixture products leave int64 (total_w * tok_s = {w_tok}, "
                f"budget_tokens * w = {b_w}); domain_mixture_sample "
                "computes them as bigint")
        if r["source"] is None:
            continue
        denom = float(w_tok)
        num = float(b_w)
        # denom 0 (an all-empty-token source): the operator's 0.0/0.0
        # is NaN and least(1.0, NaN) = 1.0 under Spark's NaN-is-largest
        rate_of[r["source"]] = 1.0 if denom == 0.0 else min(1.0, num / denom)
    accept = (md5_long(F.col("doc_id").cast("string"), seed=f"{seed}-mix:")
              % MIX_ACCEPT_MOD)
    if rate_of:
        rate_col = F.create_map(
            *[x for s, r in sorted(rate_of.items())
              for x in (F.lit(s), F.lit(r))])[F.col("source")]
    else:
        rate_col = F.lit(None).cast("double")
    sampled = deduped.filter(
        accept.cast("double") < rate_col * MIX_ACCEPT_MOD)

    cleaned = clean_documents(sampled, keep_cols=("source",))
    obs_df, obs = observed(cleaned, "pipeline")
    # Single consumer since carry_rows (r13): the cleaned sample flows
    # straight through the ONE ranking window into the shard write — no
    # checkpoint (the old eager materialization existed only because
    # the order-relation join consumed obs_df a second time), and the
    # mixture/clean Observation fires during the write itself. The
    # former `mixture_clean` stage mark collapses into the write
    # boundary (ladder rows carry `mixture_clean_write` from r13 on).
    final = global_shuffle(obs_df, n_shards, seed=f"{seed}-order",
                           carry_rows=True)
    publish_report = None
    if audits is not None:
        from downscaledclimatedata_spark.operators.maintenance import (
            publish_audited)
        publish_report = publish_audited(
            docs.sparkSession, out_dir, audits,
            lambda staging: write_training_shards(final, staging))
    else:
        write_training_shards(final, out_dir)
    # observed_get, not obs.get: a corpus whose mixture stage samples
    # ZERO docs lets AQE's empty-relation propagation eliminate the
    # metrics node below the write — the zero-row defaults are exactly
    # what it would have reported (prep.py observed_get)
    metrics = observed_get(obs, {"n_rows": 0, "total_tokens": 0,
                                 "n_null_text": 0})
    _mark("mixture_clean_write")

    return CorpusBuildResult(
        n_input=n_input, n_quality_pass=n_quality,
        n_decontaminated=n_decon, n_after_dedup=n_dedup,
        n_sampled=metrics["n_rows"],
        total_tokens=int(metrics["total_tokens"] or 0),
        n_shards=n_shards, out_dir=out_dir, n_normalized=n_normalized,
        publish_report=publish_report)


def pipeline_corpus_build_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench/ladder entry for the one-call builder: runs the FULL build
    (quality -> dedup -> mixture -> clean -> shuffle -> shard write) to
    a throwaway directory and returns the funnel counts as one row.

    The build is eager (stage checkpoints + the shard write happen
    inside this call), so bench timing measures the end-to-end
    artifact, not a lazy plan. Oracle-checked as a unit since r8: the
    funnel counts are re-derived in DuckDB by composing the SAME stage
    oracle fragments the individual specs hash against
    (:func:`_pipeline_funnel_sql`), so the end-to-end composition —
    stage ORDER and hand-offs, not just each stage alone — is under
    the driver's hash gate.
    """
    import shutil
    import tempfile

    from downscaledclimatedata_spark.sources.tables import (
        load_table_parallel)

    out = tempfile.mkdtemp(prefix="dcd_corpus_bench_")
    try:
        # load_table_parallel: a single-row-group local fixture is ONE
        # scan partition, which would run the whole funnel — the O(u·n)
        # quality rule chain, shingling, per-shingle md5 — on one core
        # AND propagate the 1-partition layout through every stage
        # checkpoint (r13 measured: ~2.5-3.5 s per build at sf0.1). At
        # real scale file splits already parallelize and the branch is
        # a no-op. Same rows, same funnel counts.
        docs = load_table_parallel(spark, sf_dir, "documents",
                                   key="doc_id")
        # same deterministic eval split as dedup_decontaminate_query, so
        # the headline build exercises the decontamination stage too
        is_eval = (md5_long(F.col("doc_id").cast("string"), seed="decon:")
                   % 41 == 0)
        res = build_training_corpus(docs.filter(~is_eval), out,
                                    budget_tokens=200_000, n_shards=8,
                                    eval_docs=docs.filter(is_eval))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    # literal_rows, not createDataFrame: a Python local relation makes
    # every consumer task pay a Python-worker round trip (functions/
    # rows.py, the O3 lesson) — the single funnel row is JVM literals
    return literal_rows(
        spark,
        [(res.n_input, res.n_quality_pass, res.n_decontaminated,
          res.n_after_dedup, res.n_sampled, res.total_tokens)],
        "n_input bigint, n_quality bigint, n_decon bigint, "
        "n_dedup bigint, n_sampled bigint, total_tokens bigint")


def _swap(sql: str, old: str, new: str) -> str:
    """``str.replace`` that refuses to silently no-op: composing the
    funnel oracle from the stage fragments is textual, so every splice
    asserts the anchor it rewrites still exists — if a stage oracle is
    ever reworded, the funnel oracle fails LOUDLY at import instead of
    hashing a stale pipeline."""
    if old not in sql:
        raise AssertionError(f"funnel-oracle anchor missing: {old!r}")
    return sql.replace(old, new)


def _quality_election_ctes() -> str:
    """The ``removed`` CTE of the min-id prune rewritten to the
    QUALITY election (dedup.py ``prune_corpus_quality``): every
    component keeps its highest-quality member, min-id tie-break.
    Score formula is the same fragment ``dedup_quality_keep`` hashes
    against (textops ``quality_scores``); the named-struct MIN realizes
    the deterministic argmax."""
    from downscaledclimatedata_spark.operators.textops import (
        _STOP_LIST, _TOKS_SQL)
    return f"""qt AS (
  SELECT d.doc_id, {_TOKS_SQL} AS toks
  FROM decon d JOIN comp c ON c.id = d.doc_id
),
qm2 AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
    len(list_distinct(toks)) AS n_uniq
  FROM qt
),
q2 AS (
  SELECT doc_id,
    0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
    + 0.3 * (CASE WHEN n_tokens > 0
                  THEN CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  ELSE 0.0 END)
    + 0.3 * least((CASE WHEN n_tokens > 0
                        THEN CAST(n_stop AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE)
                        ELSE 0.0 END) * 5, 1.0) AS quality_score
  FROM qm2
),
winners AS (
  SELECT c.comp, MIN({{'ns': -q2.quality_score, 'kid': c.id}}) AS w
  FROM comp c JOIN q2 ON q2.doc_id = c.id
  GROUP BY c.comp
),
removed AS (
  SELECT c.id AS doc_id FROM comp c
  ANTI JOIN (SELECT (w).kid AS doc_id FROM winners) k
    ON k.doc_id = c.id
),"""


def _pipeline_funnel_sql(keep: str = "min_id",
                         audited: bool = False) -> str:
    """DuckDB oracle for the WHOLE builder funnel, composed from the
    same fragments the per-stage specs hash against (prep quality /
    dedup decontaminate / dedup prune / prep mixture / prep clean).

    Each stage oracle is inlined as a subquery with its ``documents``
    source re-pointed at the previous stage's CTE, mirroring
    :func:`build_training_corpus` stage order exactly:

      nd (non-eval docs) -> quality pass -> decontaminate vs the eval
      split -> minhash-LSH component prune -> temperature mixture
      (budget 200k, seed ``epoch0-mix``) -> PII clean -> funnel counts.

    Decontamination reuses the stock decon oracle UNCHANGED (it scores
    every non-eval doc; restricting its verdict to the quality
    survivors by anti-join is exact, because a doc's gram set does not
    depend on which corpus subset it sits in).

    ``keep="quality"`` swaps the prune's min-id ``removed`` CTE for
    the quality election (:func:`_quality_election_ctes`);
    ``audited=True`` appends the write-audit-publish verdict columns —
    staged row count, per-audit violation counts over the STAGED
    relation, and the publish decision they imply.
    """
    from downscaledclimatedata_spark.operators.dedup import (
        _DECON_SPLIT_SQL, _DEDUP_DECON_SQL, _DEDUP_PRUNE_SQL)
    from downscaledclimatedata_spark.operators.prep import (
        MIX_ACCEPT_MOD, _PREP_CLEAN_SQL, _PREP_MIXTURE_SQL,
        _PREP_QUALITY_SQL)
    from downscaledclimatedata_spark.functions.hashing import md5_long_sql

    quality = _swap(_PREP_QUALITY_SQL, "FROM documents", "FROM nd")
    prune = _swap(_DEDUP_PRUNE_SQL, "FROM documents", "FROM decon")
    # survivors' ROWS (not the registered spec's summary aggregate)
    prune = prune[:prune.rindex("SELECT COUNT(*)")] \
        + "SELECT * FROM survivors"
    if keep == "quality":
        prune = _swap(
            prune,
            "removed AS (SELECT id AS doc_id FROM comp WHERE id <> comp),",
            _quality_election_ctes())
    mixture = _swap(_swap(_swap(
        _PREP_MIXTURE_SQL, "FROM documents", "FROM surv"),
        "50000 * w", "200000 * w"),       # pipeline budget_tokens
        "md5('mix0:'", "md5('epoch0-mix:'")  # pipeline mixture seed
    clean = _swap(_PREP_CLEAN_SQL, "FROM documents", "FROM samp")
    accept = md5_long_sql("CAST(s.doc_id AS VARCHAR)", seed="epoch0-mix:")
    return f"""
WITH
sides AS (SELECT doc_id, {_DECON_SPLIT_SQL} AS is_eval FROM documents),
nd AS MATERIALIZED (SELECT d.* FROM documents d JOIN sides s USING (doc_id)
       WHERE NOT s.is_eval),
qpass AS (SELECT doc_id FROM ({quality}) WHERE passes),
qdocs AS MATERIALIZED (SELECT nd.* FROM nd JOIN qpass USING (doc_id)),
contam AS (SELECT doc_id FROM ({_DEDUP_DECON_SQL}) WHERE contaminated),
decon AS MATERIALIZED (
  SELECT q.* FROM qdocs q ANTI JOIN contam c ON c.doc_id = q.doc_id),
-- MATERIALIZED: each stage below is referenced more than once (the
-- funnel counts + the next stage); without the hint DuckDB re-inlines
-- the whole upstream chain per reference and the recursive component
-- CTE inside `surv` re-runs multiplicatively
surv AS MATERIALIZED (SELECT * FROM ({prune})),
mrates AS MATERIALIZED (SELECT source, rate FROM ({mixture})),
samp AS MATERIALIZED (
  SELECT s.doc_id, s.text FROM surv s JOIN mrates r ON r.source = s.source
  WHERE CAST(({accept}) % {MIX_ACCEPT_MOD} AS DOUBLE)
        < r.rate * {MIX_ACCEPT_MOD}
),
cleaned AS MATERIALIZED (SELECT * FROM ({clean}))
SELECT
  CAST((SELECT COUNT(*) FROM nd) AS BIGINT) AS n_input,
  CAST((SELECT COUNT(*) FROM qdocs) AS BIGINT) AS n_quality,
  CAST((SELECT COUNT(*) FROM qdocs)
     - (SELECT COUNT(*) FROM decon) AS BIGINT) AS n_decon,
  CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_dedup,
  CAST((SELECT COUNT(*) FROM cleaned) AS BIGINT) AS n_sampled,
  CAST((SELECT coalesce(SUM(n_content_tokens), 0) FROM cleaned) AS BIGINT)
    AS total_tokens{_AUDIT_SELECT_SQL if audited else ""}
"""


# Audit verdict over the STAGED relation (= cleaned: the shard write
# adds shard/pos but drops no row): the same violation SUMs
# ``publish_audited`` computes over the staged bytes, plus the publish
# decision they imply. The audit NAMES must match the Spark side's
# ``_QUALITY_BUILD_AUDITS``.
_AUDIT_SELECT_SQL = """,
  CAST((SELECT COUNT(*) FROM cleaned) AS BIGINT) AS n_staged,
  CAST((SELECT coalesce(SUM(CASE WHEN content_text IS NULL
                            THEN 1 ELSE 0 END), 0) FROM cleaned)
       AS BIGINT) AS v_null_text,
  CAST((SELECT coalesce(SUM(CASE WHEN content_text = ''
                            THEN 1 ELSE 0 END), 0) FROM cleaned)
       AS BIGINT) AS v_empty_content,
  ((SELECT coalesce(SUM(CASE WHEN content_text IS NULL
                         THEN 1 ELSE 0 END), 0) FROM cleaned) = 0
   AND
   (SELECT coalesce(SUM(CASE WHEN content_text = ''
                         THEN 1 ELSE 0 END), 0) FROM cleaned) = 0)
    AS published"""


# Audits the quality build publishes through (names must match
# _AUDIT_SELECT_SQL): violation = the staged corpus carries a NULL or
# empty content_text — either would be a wasted training row.
def _quality_build_audits() -> list:
    return [("v_null_text", F.col("content_text").isNull()),
            ("v_empty_content", F.col("content_text") == "")]


def pipeline_corpus_build_quality_query(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """The PRODUCTION-shaped builder run: same funnel as
    :func:`pipeline_corpus_build_query` but with the quality-elected
    near-dup representative (``keep="quality"`` — every component keeps
    its highest-quality member, not the min id) and the shard write
    routed through write-audit-publish (``audits=`` — shards stage,
    the audits run over the staged bytes, and only a clean report
    publishes). The returned row extends the funnel counts with the
    WAP verdict: staged row count, per-audit violation counts, and the
    publish decision — all re-derived relationally by the oracle, so
    the election rule AND the audit arithmetic are under the hash gate.
    """
    import shutil
    import tempfile

    from downscaledclimatedata_spark.sources.tables import (
        load_table_parallel)

    out = tempfile.mkdtemp(prefix="dcd_corpus_bench_q_")
    try:
        # parallelized read: see pipeline_corpus_build_query
        docs = load_table_parallel(spark, sf_dir, "documents",
                                   key="doc_id")
        is_eval = (md5_long(F.col("doc_id").cast("string"), seed="decon:")
                   % 41 == 0)
        res = build_training_corpus(
            docs.filter(~is_eval), f"{out}/corpus",
            budget_tokens=200_000, n_shards=8,
            eval_docs=docs.filter(is_eval),
            keep="quality", audits=_quality_build_audits())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    rep = res.publish_report
    return literal_rows(
        spark,
        [(res.n_input, res.n_quality_pass, res.n_decontaminated,
          res.n_after_dedup, res.n_sampled, res.total_tokens,
          rep["n_rows"], rep["v_null_text"], rep["v_empty_content"],
          rep["published"])],
        "n_input bigint, n_quality bigint, n_decon bigint, "
        "n_dedup bigint, n_sampled bigint, total_tokens bigint, "
        "n_staged bigint, v_null_text bigint, v_empty_content bigint, "
        "published boolean")


def _register_specs() -> None:
    from downscaledclimatedata_spark.plans import QuerySpec, register
    register(QuerySpec(
        name="pipeline_corpus_build",
        spark=pipeline_corpus_build_query,
        oracle=_pipeline_funnel_sql(),
        headline=True,
        description="end-to-end training-corpus build (write included)"))
    register(QuerySpec(
        name="pipeline_corpus_build_quality",
        spark=pipeline_corpus_build_quality_query,
        oracle=_pipeline_funnel_sql(keep="quality", audited=True),
        headline=True,
        description="production-shaped corpus build: quality-elected "
                    "near-dup representatives + write-audit-publish, "
                    "funnel counts and WAP verdict oracle-checked"))


_register_specs()


def main(argv: list[str] | None = None) -> None:
    import argparse

    from downscaledclimatedata_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="Build training shards from a documents parquet.")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--budget-tokens", type=int, required=True)
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--seed", default="epoch0")
    ap.add_argument("--eval-input", default=None,
                    help="parquet of benchmark/eval documents; when set, "
                         "docs sharing any 5-gram with it are dropped")
    args = ap.parse_args(argv)

    spark = get_spark("corpus-build")
    docs = spark.read.parquet(args.input)
    eval_docs = (spark.read.parquet(args.eval_input)
                 if args.eval_input else None)
    res = build_training_corpus(docs, args.output,
                                budget_tokens=args.budget_tokens,
                                n_shards=args.shards, seed=args.seed,
                                eval_docs=eval_docs)
    import json
    print(json.dumps(res.__dict__))


if __name__ == "__main__":
    main()
