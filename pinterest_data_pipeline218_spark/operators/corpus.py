"""Training-corpus construction operators over the `documents` table.

The steps between "cleaned corpus" and "training data" that a large-scale
LLM pipeline runs after dedup/quality-filtering (SURVEY.md build-plan
extension, same family as operators/dedup.py):

- **Deterministic sampling** (`corpus_hash_sample`): Bernoulli sampling by a
  content-independent hash of the document id — reproducible across runs,
  engines and cluster sizes, unlike `df.sample`, whose RNG is tied to
  partition layout. At scale this is a scan-local filter: no shuffle, prunes
  at the source, and the SAME documents are kept no matter how the corpus is
  re-partitioned.
- **Train/val/test split** (`corpus_split_assign`): hash-range assignment
  (80/10/10) with a seed distinct from the sampler's, so sampling and
  splitting are independent events. Scan-local, shuffle-free.
- **Sequence chunking** (`corpus_chunk_tokens`): pack each document's tokens
  into fixed-size chunks (the training-sequence shaping step). Pure integer
  arithmetic + `slice`, evaluated at the scan; the 1→N fan-out is an
  explode over a computed chunk count, not a UDF.

All three are oracle-paired: the doc-id hash is the repo's md5-derived
60-bit hash (functions/text.py), identical in Spark and DuckDB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..data import load_table, shielded_sort
from ..functions import text as T

SAMPLE_PCT = 10  # keep 10% of documents
SAMPLE_SEED = 41
SPLIT_SEED = 97
TRAIN_PCT, VAL_PCT = 80, 10  # remainder = test
CHUNK_TOKENS = 32


def _doc_pct(seed: int) -> F.Column:
    """Deterministic per-document percentile bucket in [0, 100)."""
    return T.token_hash(F.col("doc_id").cast("string"), seed=seed) % 100


def _doc_pct_sql(seed: int) -> str:
    return f"({T.token_hash_sql('CAST(doc_id AS VARCHAR)', seed=seed)} % 100)"


def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep SAMPLE_PCT% of documents by id-hash — the reproducible
    downsampling step. The predicate is scan-local (one md5 per row), so at
    100 TB this is a full-rate scan emitting a 10% stream with zero shuffle
    and no RNG/partition-layout coupling."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(_doc_pct(SAMPLE_SEED) < SAMPLE_PCT)
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


CORPUS_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE {_doc_pct_sql(SAMPLE_SEED)} < {SAMPLE_PCT}
ORDER BY doc_id
"""


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by hash range (80/10/10).
    Seeded independently of the sampler so sample∩split stays unbiased.
    Row-level output: the assignment itself is the contract."""
    docs = load_table(spark, sf_dir, "documents")
    pct = _doc_pct(SPLIT_SEED)
    split = (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", split.alias("split")).orderBy("doc_id")


CORPUS_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN {_doc_pct_sql(SPLIT_SEED)} < {TRAIN_PCT} THEN 'train'
            WHEN {_doc_pct_sql(SPLIT_SEED)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


def corpus_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each document's whitespace tokens into CHUNK_TOKENS-sized
    training sequences: (doc_id, chunk_idx, n_tokens, chunk_text), last
    chunk ragged. Chunk count is integer arithmetic ((n+31) div 32 — no
    float ceil, so both engines agree exactly); the fan-out is
    explode(sequence(...)) pipelined into the scan, and chunk extraction is
    a 1-based `slice` matching DuckDB list indexing."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks")).withColumn(
        "n_chunks",
        F.expr(f"(size(toks) + {CHUNK_TOKENS - 1}) div {CHUNK_TOKENS}"),
    )
    out = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * CHUNK_TOKENS + 1, CHUNK_TOKENS)
    return (
        out.select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CORPUS_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL
), f AS (
  SELECT doc_id, toks,
         unnest(range(0, (len(toks) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS})) AS chunk_idx
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {CHUNK_TOKENS} + 1,
                           chunk_idx * {CHUNK_TOKENS} + {CHUNK_TOKENS})) AS INT) AS n_tokens,
       array_to_string(list_slice(toks, chunk_idx * {CHUNK_TOKENS} + 1,
                                  chunk_idx * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' ') AS chunk_text
FROM f
ORDER BY doc_id, chunk_idx
"""


SLIDE_TOKENS = 32  # sliding-window chunk size...
SLIDE_STRIDE = 24  # ...advanced by this many tokens (8-token overlap)
RESERVOIR_K = 16  # per-stratum sample size


def corpus_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING training/RAG chunks: windows of SLIDE_TOKENS tokens
    advanced by SLIDE_STRIDE (so consecutive chunks share
    SLIDE_TOKENS − SLIDE_STRIDE tokens of context — the retrieval-chunking
    shape, where a fact straddling a hard boundary would be unfindable;
    corpus_chunk_tokens is the disjoint special case stride == size).
    Window count is pure integer arithmetic:
    1 + max(0, ceil((n − W)/S)) — both engines agree exactly; the last
    window is ragged, never empty.

    Scale: explode(sequence) fan-out pipelined into the scan (fan-out
    factor ≈ n/S per doc — output-proportional, no shuffle until the
    gate's orderBy)."""
    W, S = SLIDE_TOKENS, SLIDE_STRIDE
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks")).withColumn(
        "n_win",
        F.expr(
            f"1 + greatest(0, (size(toks) - {W} + {S - 1}) div {S})"
        ),
    )
    out = toks.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_win") - 1).cast("int"))
        ).alias("win_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("win_idx") * S + 1, W)
    return out.select(
        "doc_id",
        F.col("win_idx").cast("int").alias("win_idx"),
        (F.col("win_idx") * S + 1).cast("int").alias("start_tok"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "win_idx")


CORPUS_SLIDING_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL
), f AS (
  SELECT doc_id, toks,
         unnest(range(0, 1 + greatest(0,
             (len(toks) - {SLIDE_TOKENS} + {SLIDE_STRIDE - 1}) // {SLIDE_STRIDE}
         ))) AS win_idx
  FROM t
)
SELECT doc_id,
       CAST(win_idx AS INT) AS win_idx,
       CAST(win_idx * {SLIDE_STRIDE} + 1 AS INT) AS start_tok,
       CAST(len(list_slice(toks, win_idx * {SLIDE_STRIDE} + 1,
                           win_idx * {SLIDE_STRIDE} + {SLIDE_TOKENS})) AS INT) AS n_tokens,
       array_to_string(list_slice(toks, win_idx * {SLIDE_STRIDE} + 1,
                                  win_idx * {SLIDE_STRIDE} + {SLIDE_TOKENS}), ' ') AS chunk_text
FROM f
ORDER BY doc_id, win_idx
"""


def corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample WITHOUT replacement per stratum: exactly
    min(RESERVOIR_K, |stratum|) docs per source, elected by ascending
    deterministic hash rank (ties broken by doc_id) — the distributed
    equivalent of per-group reservoir sampling, reproducible across runs
    and engines (a true random reservoir can't be oracle-checked; rank-
    by-keyed-hash is the standard derandomization, same family as
    corpus_hash_sample's percentile filter but with an EXACT group size
    guarantee, which rate-based sampling cannot give).

    Scale: one window pass partitioned by source (one exchange); the
    rank filter keeps ≤ K rows per stratum — bounded output however
    skewed the strata. The presentation sort is repartition(1) +
    sortWithinPartitions, NOT orderBy (r15, the VERDICT r14 #3
    re-adjudication): a global orderBy without a limit runs the
    RangePartitioner's sampling pass, which RE-EXECUTES the whole
    window child once before the sort itself — a built-in 2× on this
    plan (solo A/B: 0.35 s with orderBy, 0.17 s with the local sort at
    sf0.1). A single-partition local sort is scale-safe here because
    the sorted relation is the ≤ |sources|·K OUTPUT, never the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("ord", "doc_id")
    return (
        docs.select(
            "source",
            "doc_id",
            T.token_hash(F.col("doc_id").cast("string"), seed=77).alias("ord"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("source", "doc_id", F.col("rk").cast("int").alias("rk"))
        .repartition(1)
        .sortWithinPartitions("source", "rk")
    )


CORPUS_RESERVOIR_SQL = f"""
WITH h AS (
  SELECT source, doc_id,
         {T.token_hash_sql('CAST(doc_id AS VARCHAR)', seed=77)} AS ord
  FROM documents
), r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY ord, doc_id) AS rk
  FROM h
)
SELECT source, doc_id, CAST(rk AS INT) AS rk
FROM r WHERE rk <= {RESERVOIR_K}
ORDER BY source, rk
"""


QUALITY_THRESHOLD = 0.5


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    quality_threshold: float = QUALITY_THRESHOLD,
    sample_pct: int = 100,
    repetition_gate: bool = False,
    decontaminate: bool = False,
    near_dedup: bool = False,
    lm_gate: bool = False,
    classifier_gate: bool = False,
    keeper: str = "min_id",
    persist_shared: bool = True,
) -> DataFrame:
    """The end-to-end corpus build a training pipeline runs, composed from
    the same operator expressions the gated queries use:

      quality filter → [trained-classifier gate] → [repetition gate] →
      [decontamination] → [LM-perplexity gate] →
      exact-dedup compact (keeper = min doc_id) →
      [near-dup compact: LSH pairs → connected components → cluster min] →
      deterministic hash sample → split assign → token chunking

    Everything up to the dedup semi-join is scan-local; the optional gates
    add one (doc,bigram) aggregate semi-join (repetition) and one hashed
    n-gram anti-join vs the eval slice (decontamination); the dedup adds one
    |distinct-digests| shuffle + a keeper semi-join; chunking fans out at
    the scan. Returns training rows (doc_id, split, chunk_idx, n_tokens,
    chunk_text) — write with `write_training_corpus` to get a
    split-partitioned layout downstream readers can prune.

    **Single-pass tokenization**: the corpus is tokenized ONCE into a
    shared (doc_id, text, toks) projection; the quality gate, the
    repetition gate, the decontamination screen, and the chunker all read
    that projection (the gate combinators accept pre-tokenized input).
    When more than one gate consumes it, the projection is persisted
    (MEMORY_AND_DISK — spills instead of OOMing; at cluster scale this is
    the standard materialize-once move, since each extra consumer would
    otherwise re-read the full corpus from object storage and re-split
    every document). Without this, a 4-gate build paid 4 corpus-wide
    tokenization passes — measured ~6x the sum of its parts at sf0.1."""
    # Deliberately NOT pre-spread (unlike the r11 containment/novelty
    # repartition move): measured at sf0.1, a round-robin repartition of
    # docs before the shared projection REGRESSES the build 10.4 → 18.7 s —
    # tokens() here is a plain whitespace split (cheap, unlike the
    # md5-shingle builds that won from spreading), the projection is
    # persisted (filled once), and the repartition only inserts extra wide
    # shuffles into every downstream gate subtree.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    proj = ["doc_id", "text", T.tokens(F.col("text")).alias("toks")]
    if classifier_gate:
        # the classifier gate needs weak labels; carry the (narrow) source
        # column on the shared projection instead of re-joining for it
        proj.insert(1, "source")
    toked = docs.select(*proj)
    if persist_shared and (
        repetition_gate or decontaminate or near_dedup or lm_gate or classifier_gate
    ):
        from pyspark import StorageLevel

        toked = toked.persist(StorageLevel.MEMORY_AND_DISK)
    good = toked.filter(T.quality_score(F.col("toks")) >= quality_threshold)
    if classifier_gate:
        # GPT-3-style trained-quality screen composed on the SAME shared
        # tokenized projection: per-token lower() after a whitespace split
        # is identical to splitting lowered text, so the classifier's gram
        # stream needs no re-tokenization. Keep rule = curated sources
        # unconditionally + crawl docs the trained contrast scores positive
        # (selecting curated-looking crawl is the classifier's entire job).
        from .text_analysis import (
            CONTRAST_BUCKETS,
            CURATED_SOURCES,
            train_token_contrast,
        )

        is_pos = F.col("source").isin(*CURATED_SOURCES)
        grams = toked.select(
            "doc_id", is_pos.alias("is_pos"), F.explode("toks").alias("tok")
        ).select(
            "doc_id",
            "is_pos",
            F.pmod(
                T.token_hash(F.lower(F.col("tok"))), F.lit(CONTRAST_BUCKETS)
            ).alias("b"),
        )
        weights = train_token_contrast(grams)
        scores = (
            grams.join(F.broadcast(weights), "b")
            .groupBy("doc_id")
            .agg(F.sum("w").alias("cs"))
        )
        cls_keep = (
            toked.select("doc_id", is_pos.alias("is_pos"))
            .join(scores, "doc_id", "left")
            .filter(F.col("is_pos") | (F.coalesce("cs", F.lit(0)) > 0))
            .select("doc_id")
        )
        good = good.join(cls_keep, "doc_id", "left_semi")
    if repetition_gate:
        from .text_analysis import repetition_flags

        keep_ids = repetition_flags(toked).filter(F.col("keep")).select("doc_id")
        good = good.join(keep_ids, "doc_id", "left_semi")
    if decontaminate:
        from .text_analysis import contamination_report

        dirty_ids = contamination_report(toked).select("doc_id")
        good = good.join(dirty_ids, "doc_id", "left_anti")
    if lm_gate:
        # the CCNet-style perplexity screen composes on the SAME shared
        # tokenized projection (lm_score_flags accepts pre-tokenized input)
        from .text_analysis import lm_score_flags

        lm_keep = lm_score_flags(toked).filter(F.col("keep")).select("doc_id")
        good = good.join(lm_keep, "doc_id", "left_semi")
    keepers = (
        good.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # drop `text` before the keeper semi-join: only the chunker runs
    # downstream and it reads `toks`, so the join payload stays the same
    # size it was when the chunker re-tokenized from `text`
    kept = good.select("doc_id", "toks").join(keepers, "doc_id", "left_semi")
    if near_dedup:
        # Capped candidate edges, not the pair listing: this stage consumes
        # CC LABELS only, so the bounded-linear stream replaces the
        # output-bound quadratic one (VERDICT r8 #1 — uncapped measured
        # 23.9× at the sf1 decade, capped 1.2–1.4×; below the 512 cap, all
        # gate SFs, the two streams are identical so labels provably match).
        from .dedup import (
            CC_JACCARD_THRESHOLD,
            capped_verified_pairs,
            connected_components,
        )

        pairs = capped_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD)
        nodes = docs.select(F.col("doc_id").alias("node"))
        labels = connected_components(nodes, pairs)
        # Keeper must be chosen among SURVIVING docs: if the cluster's
        # global min-id was already removed by the quality/repetition/
        # decontamination/exact-dedup gates, label==node would retain no
        # member and the whole near-dup cluster silently vanished. Restrict
        # the label table to survivors first, then elect per cluster.
        surviving_labels = labels.join(
            kept.select(F.col("doc_id").alias("node")), "node", "left_semi"
        )
        if keeper == "best_quality":
            # the dedup_cluster_best policy: keep the max-quality member
            # (fixed-point ppm, NULL pinned to -1, ties to lowest id)
            q_ppm = F.coalesce(
                (T.quality_score(F.col("toks")) * 1_000_000).cast("long"),
                F.lit(-1).cast("long"),
            )
            q_tbl = toked.select(F.col("doc_id").alias("node"), q_ppm.alias("q"))
            cc_keepers = (
                surviving_labels.join(q_tbl, "node")
                .groupBy("label")
                .agg(
                    F.min(
                        F.struct((-F.col("q")).alias("nq"), F.col("node").alias("d"))
                    ).alias("mn")
                )
                .select(F.col("mn.d").alias("doc_id"))
            )
        elif keeper == "min_id":
            cc_keepers = surviving_labels.groupBy("label").agg(
                F.min("node").alias("doc_id")
            ).select("doc_id")
        else:
            raise ValueError(f"unknown keeper policy {keeper!r}")
        kept = kept.join(cc_keepers, "doc_id", "left_semi")
    if sample_pct < 100:
        kept = kept.filter(_doc_pct(SAMPLE_SEED) < sample_pct)
    pct = _doc_pct(SPLIT_SEED)
    split = (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    with_chunks = kept.select(
        "doc_id", split.alias("split"), "toks"
    ).withColumn(
        "n_chunks", F.expr(f"(size(toks) + {CHUNK_TOKENS - 1}) div {CHUNK_TOKENS}")
    )
    out = with_chunks.select(
        "doc_id",
        "split",
        "toks",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * CHUNK_TOKENS + 1, CHUNK_TOKENS)
    return out.select(
        "doc_id",
        "split",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


STRATA_SEED = 53
# per-language keep rates: downsample the dominant language, keep the rest
# near-whole — the standard corpus-rebalancing move. Languages not listed
# fall back to DEFAULT_RATE.
STRATA_RATES = {"en": 40}
DEFAULT_RATE = 90


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) deterministic sampling: each stratum gets
    its own keep rate against the same id-hash percentile. Unlike
    `df.sampleBy`, the decision depends only on (doc_id, seed) — stable
    across engines, runs and partition layouts, so a resumed 100-TB job
    re-derives the identical sample. Still a scan-local filter: the rate
    lookup is a CASE expression, no join, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.filter(_doc_pct(STRATA_SEED) < rate)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items()
) + f" ELSE {DEFAULT_RATE} END"

CORPUS_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_doc_pct_sql(STRATA_SEED)} < {_RATE_SQL}
ORDER BY doc_id
"""


def corpus_stratified_predlang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling keyed on the TRAINED classifier's PREDICTED
    language instead of the metadata column — the composition VERDICT r5
    #4 asked for: real corpora arrive without trustworthy language labels
    (or with lying ones), so the rebalancing rates must key on what the
    text actually is. Same deterministic id-hash percentile, same rate
    CASE — only the stratum key changes, supplied by
    text_analysis.langid_classify (one scan-side trigram explode + one
    broadcast profile join ahead of the filter; at 100 TB the classifier
    output would be a materialized column written once at ingest)."""
    from .text_analysis import (
        langid_classify,
        langid_fixture_df,
        train_langid_profiles,
    )

    docs = load_table(spark, sf_dir, "documents")
    pred = langid_classify(
        docs, train_langid_profiles(langid_fixture_df(spark))
    ).select("doc_id", "pred_lang")
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("pred_lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.join(pred, "doc_id")
        .filter(_doc_pct(STRATA_SEED) < rate)
        .select("doc_id", "pred_lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _stratified_predlang_sql() -> str:
    from .text_analysis import _langid_cte_sql

    rate = "CASE " + " ".join(
        f"WHEN pred_lang = '{lang}' THEN {r}"
        for lang, r in STRATA_RATES.items()
    ) + f" ELSE {DEFAULT_RATE} END"
    return f"""
WITH {_langid_cte_sql()},
pred AS (
  SELECT d.doc_id, COALESCE(b.pred_lang, 'und') AS pred_lang,
         d.source, d.n_chars
  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
)
SELECT doc_id, pred_lang, source, n_chars
FROM pred
WHERE {_doc_pct_sql(STRATA_SEED)} < {rate}
ORDER BY doc_id
"""


PACK_TOKENS = 256  # target training-sequence length (tokens)
PACK_BUCKETS = 16  # parallel packing streams; the scale knob
PACK_SEED = 113


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign token chunks to fixed-budget training
    sequences ACROSS document boundaries — the packing step that turns a
    chunked corpus into dense training batches (unpacked short documents
    waste pad tokens).

    Packing is inherently sequential, so it is bucketized: chunks are
    hash-assigned to PACK_BUCKETS independent streams, and within each
    stream a running token total (window sum) places every chunk at its
    offset; seq_id = floor(preceding_total / PACK_TOKENS). One shuffle
    (hash by bucket) + one per-bucket sort; buckets are the parallelism
    knob at 100 TB. Greedy cumsum packing lets a chunk straddle a
    boundary (real packers splice; the assignment contract is the same)
    and is fully deterministic: bucket and order depend only on ids.
    """
    chunks = corpus_chunk_tokens(spark, sf_dir)
    from pyspark.sql import Window

    # md5-derived bucket (not crc32): bucket is an OUTPUT column here, so it
    # must be the cross-engine hash the oracle can replay
    bucket = T.token_hash(F.col("doc_id").cast("string"), seed=PACK_SEED) % PACK_BUCKETS
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        chunks.withColumn("bucket", bucket.cast("int"))
        .withColumn("__cum", cum_before)
        .select(
            "bucket",
            F.expr(f"__cum div {PACK_TOKENS}").cast("int").alias("seq_id"),
            "doc_id",
            "chunk_idx",
            "n_tokens",
            (F.col("__cum") % PACK_TOKENS).cast("int").alias("seq_offset"),
        )
        .orderBy("bucket", "doc_id", "chunk_idx")
    )


_BUCKET_SQL = f"({T.token_hash_sql('CAST(doc_id AS VARCHAR)', seed=PACK_SEED)} % {PACK_BUCKETS})"
CORPUS_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL
), f AS (
  SELECT doc_id, toks,
         unnest(range(0, (len(toks) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS})) AS chunk_idx
  FROM t
), chunks AS (
  SELECT doc_id,
         CAST(chunk_idx AS INT) AS chunk_idx,
         CAST(len(list_slice(toks, chunk_idx * {CHUNK_TOKENS} + 1,
                             chunk_idx * {CHUNK_TOKENS} + {CHUNK_TOKENS})) AS INT) AS n_tokens,
         CAST({_BUCKET_SQL} AS INT) AS bucket
  FROM f
), packed AS (
  SELECT bucket, doc_id, chunk_idx, n_tokens,
         COALESCE(CAST(SUM(n_tokens) OVER (
             PARTITION BY bucket ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
  FROM chunks
)
SELECT bucket, CAST(cum // {PACK_TOKENS} AS INT) AS seq_id,
       doc_id, chunk_idx, n_tokens,
       CAST(cum % {PACK_TOKENS} AS INT) AS seq_offset
FROM packed
ORDER BY bucket, doc_id, chunk_idx
"""


MIX_SEED = 71
# temperature T=2 (alpha = 1/T = 0.5): the mixture flattens toward the small
# sources — keep-rate_s = 100 * sqrt(n_min / n_s), i.e. kept_s ∝ sqrt(n_s),
# the standard temperature-sampling rebalance a multi-source corpus applies.


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language mixing with DATA-DERIVED rates (unlike
    corpus_stratified_sample's static table): per-language keep-rates are
    computed from the live per-language counts so kept_l ∝ n_l^(1/T), then
    applied as the same deterministic id-hash filter. (The mixture key is
    `lang` because it is the skewed axis of this corpus — `source` is
    uniform here, and a mixture over balanced strata is a no-op by design.)

    Scale shape: one |sources| aggregate (map-side combined), a 1-row min
    crossJoin (always broadcast), a rates⋈docs join that AQE broadcasts
    (|sources| rows), and the scan-local hash filter. No driver collect —
    the rates live in the plan.

    Cross-engine exactness: the rate is floor(100·sqrt(n_min/n_s)) — IEEE
    division, sqrt, and multiplication are all correctly-rounded (unlike
    pow/log, which are libm-dependent), so both engines derive identical
    integer rates."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    nmin = counts.agg(F.min("n_l").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "lang",
        F.floor(F.lit(100.0) * F.sqrt(F.col("n_min") / F.col("n_l")))
        .cast("int")
        .alias("rate"),
    )
    return (
        docs.join(rates, "lang")
        .filter(_doc_pct(MIX_SEED) < F.col("rate"))
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id")
    )


CORPUS_MIXTURE_SQL = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
nmin AS (SELECT MIN(n_l) AS n_min FROM counts),
rates AS (
  SELECT lang,
         CAST(FLOOR(100.0 * SQRT(CAST(n_min AS DOUBLE) / n_l)) AS INT) AS rate
  FROM counts CROSS JOIN nmin
)
SELECT doc_id, d.lang AS lang, rate
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {_doc_pct_sql(MIX_SEED)} < rate
ORDER BY doc_id
"""


def corpus_build_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED end-to-end corpus build with every gate on — quality →
    repetition → decontamination → exact-dedup → near-dup compaction →
    split → chunking — registered as its own gated query so a regression in
    the composition (gate ordering, keeper selection, join shapes), not
    just the pieces, is visible to the correctness gate and the bench.

    Scale shape is the union of its parts, all previously audited: every
    gate is one semi/anti join against a scan-local or one-shuffle
    aggregate; the near-dup stage consumes the CAPPED candidate edge
    stream (bounded-linear, VERDICT r8 #1) into edges-only CC; chunking
    fans out at the scan."""
    return build_training_corpus(
        spark,
        sf_dir,
        repetition_gate=True,
        decontaminate=True,
        near_dedup=True,
    ).orderBy("doc_id", "chunk_idx")


def _build_full_sql() -> str:
    """DuckDB replay of the full composition. Reuses the exact oracle
    fragments of the constituent queries (minhash CTE chain + recursive-CTE
    connected components from dedup, bigram/5-gram gates from
    text_analysis, hash split + chunking from this module) so the composed
    oracle can't drift from the piecewise ones."""
    from .dedup import (
        CC_COMPOSED_EDGE_CAP,
        CC_JACCARD_THRESHOLD,
        _capped_cand_cte,
        _minhash_cte_body,
        _VERIFIED_JACCARD,
    )
    from .text_analysis import DECON_BENCH_MOD, DECON_BENCH_RESIDUE, DECON_NGRAM

    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    grams2 = T.word_shingles_sql("string_split(text, ' ')", 2)
    gramsn = T.word_shingles_sql("string_split(text, ' ')", DECON_NGRAM)
    gh = T.token_hash_sql("g")
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, {_capped_cand_cte(CC_COMPOSED_EDGE_CAP)}, pairs AS (
  SELECT doc_a, doc_b
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS label FROM reach GROUP BY node
), docs AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
), g2 AS (
  SELECT doc_id, unnest({grams2}) AS g FROM docs
), per2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
), ragg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS n_distinct, MAX(c) AS max_c
  FROM per2 GROUP BY doc_id
), rep_keep AS (
  SELECT d.doc_id FROM docs d LEFT JOIN ragg a ON d.doc_id = a.doc_id
  WHERE a.n_grams IS NULL
     OR ((a.n_grams - a.n_distinct) / a.n_grams <= 0.3
         AND a.max_c / a.n_grams <= 0.2)
), hashedn AS (
  SELECT doc_id, list_distinct(list_transform({gramsn}, g -> {gh})) AS ghs
  FROM docs
), bench AS (
  SELECT DISTINCT unnest(ghs) AS gh FROM hashedn
  WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_RESIDUE}
), dirty AS (
  SELECT DISTINCT t.doc_id FROM (
    SELECT doc_id, unnest(ghs) AS gh FROM hashedn
    WHERE doc_id % {DECON_BENCH_MOD} != {DECON_BENCH_RESIDUE}
  ) t JOIN bench b ON t.gh = b.gh
), good AS (
  SELECT d.doc_id, d.text FROM docs d
  JOIN rep_keep rk ON d.doc_id = rk.doc_id
  WHERE {quality} >= {QUALITY_THRESHOLD}
    AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
), exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM good GROUP BY md5(text)
), kept AS (
  SELECT g.doc_id, g.text FROM good g JOIN exact_keep e ON g.doc_id = e.doc_id
), cc_keep AS (
  SELECT MIN(k.doc_id) AS doc_id
  FROM kept k JOIN cc ON k.doc_id = cc.doc_id
  GROUP BY cc.label
), final AS (
  SELECT k.doc_id, k.text FROM kept k JOIN cc_keep c ON k.doc_id = c.doc_id
), t AS (
  SELECT doc_id,
         CASE WHEN {_doc_pct_sql(SPLIT_SEED)} < {TRAIN_PCT} THEN 'train'
              WHEN {_doc_pct_sql(SPLIT_SEED)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         string_split(text, ' ') AS toks
  FROM final
), f AS (
  SELECT doc_id, split, toks,
         unnest(range(0, (len(toks) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS})) AS chunk_idx
  FROM t
)
SELECT doc_id, split,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {CHUNK_TOKENS} + 1,
                           chunk_idx * {CHUNK_TOKENS} + {CHUNK_TOKENS})) AS INT) AS n_tokens,
       array_to_string(list_slice(toks, chunk_idx * {CHUNK_TOKENS} + 1,
                                  chunk_idx * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' ') AS chunk_text
FROM f
ORDER BY doc_id, chunk_idx
"""


def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test assignment: the split hash is keyed on
    the NEAR-DUP CLUSTER label, not the document id, so two near-duplicate
    documents can NEVER straddle splits — the leakage mode a per-document
    hash split (corpus_split_assign) cannot prevent, and the reason
    production eval sets are split at the cluster/URL/domain level
    (decontamination's structural complement: decontamination removes
    known-benchmark overlap, this prevents self-overlap between the
    train and held-out slices).

    Composition: capped candidate edges → Jaccard verify → min-label CC
    (the bounded 100 TB dedup path, provably exact below the cap at gate
    SFs) → md5-percent of the CLUSTER id → the standard 80/10/10 CASE.
    Output (doc_id, cluster_id, split); every cluster lands whole in one
    split by construction (pytest-pinned).

    Scale shape: the CC machinery's (bounded-linear edges, |docs| label
    table) plus one scan-local hash CASE — no new wide work."""
    from .dedup import (
        CC_JACCARD_THRESHOLD,
        capped_verified_pairs,
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = capped_verified_pairs(spark, sf_dir, CC_JACCARD_THRESHOLD)
    nodes = docs.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, pairs)
    pct = T.token_hash(F.col("label").cast("string"), seed=SPLIT_SEED) % 100
    split = (
        F.when(pct < TRAIN_PCT, "train")
        .when(pct < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        split.alias("split"),
    ).orderBy("doc_id")


def _leakage_safe_split_sql() -> str:
    from .dedup import (
        CC_COMPOSED_EDGE_CAP,
        CC_JACCARD_THRESHOLD,
        _capped_cand_cte,
        _minhash_cte_body,
        _VERIFIED_JACCARD,
    )

    pct = f"({T.token_hash_sql('CAST(cluster_id AS VARCHAR)', seed=SPLIT_SEED)} % 100)"
    return f"""
WITH RECURSIVE {_minhash_cte_body()}, {_capped_cand_cte(CC_COMPOSED_EDGE_CAP)}, pairs AS (
  SELECT doc_a, doc_b
  FROM allcand
  JOIN sig x ON allcand.doc_a = x.doc_id
  JOIN sig y ON allcand.doc_b = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {CC_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node WHERE r.label < e.dst
), cc AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       CASE WHEN {pct} < {TRAIN_PCT} THEN 'train'
            WHEN {pct} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM cc ORDER BY doc_id
"""


DSIR_SEED = 77
DSIR_BUCKETS = 64  # hashed-unigram feature space (DSIR uses hashed n-grams)
DSIR_SCALE = 1_000_000  # fixed-point scale for the probability ratio
DSIR_SW_PCT = 10  # target slice: docs with >= 10% stopword mass


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every raw document by how much its hashed-unigram feature
    distribution looks like a target slice's distribution, then keep the
    docs whose importance beats the corpus mean.

    Mechanics faithful to the paper, arithmetic made integer-exact:
    - features = token hash mod DSIR_BUCKETS (the paper's hashed n-grams);
    - target = stopword-rich documents (>= DSIR_SW_PCT% stopword tokens —
      a natural-prose proxy, standing in for the paper's Wikipedia/books
      target; the integer form n_sw*100 >= n_toks*10 avoids float ratios);
    - per-bucket importance ratio = (ct+1)/(cr+1) with add-one smoothing,
      held in fixed-point ((ct+1)*SCALE div (cr+1)) — the paper works in
      log space, but log is libm-dependent across engines, and for a
      SELECTION rule the monotone fixed-point ratio-mean serves the same
      ordering role with zero cross-engine drift;
    - doc score = mean per-token ratio (length-normalized so the rule
      selects on distributional match, not doc length);
    - selected = score*n >= sum(score) — multiply-not-divide mean
      threshold, the q11/q22 idiom.

    Scale shape: one token-explode scan → 64-row rates aggregate (map-side
    combined) → rates rejoined (AQE broadcast, 64 rows) → per-doc sum (one
    doc_id-keyed shuffle) → 1-row mean crossJoin (broadcast). No collect,
    no global sort; the verdict flag lives in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    n_sw = F.size(F.filter(toks, lambda t: t.isin(*T.STOPWORDS)))
    is_target = (n_sw * 100) >= (F.size(toks) * DSIR_SW_PCT)
    # Evaluate is_target in a projection BELOW the explode. Inlining it in
    # the same select as explode() puts it in the post-Generate Project, so
    # the O(|toks|) filter/size HOF re-runs once per exploded TOKEN —
    # O(|toks|²) per doc, measured 6.4x slower at sf0.1.
    pre = docs.select("doc_id", is_target.alias("is_target"), toks.alias("toks"))
    tokd = pre.select("doc_id", "is_target", F.explode("toks").alias("tok"))
    b = tokd.select(
        "doc_id",
        "is_target",
        (T.token_hash(F.col("tok"), seed=DSIR_SEED) % DSIR_BUCKETS).alias("bucket"),
    )
    rates = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count_if(F.col("is_target")).alias("ct"),
    )
    scored = (
        b.join(rates, "bucket")
        .groupBy("doc_id")
        .agg(
            F.expr(
                f"sum(((ct + 1) * {DSIR_SCALE}) div (cr + 1)) div count(*)"
            ).alias("dsir_score")
        )
    )
    tot = scored.agg(F.sum("dsir_score").alias("s"), F.count(F.lit(1)).alias("n"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "dsir_score",
            (F.col("dsir_score") * F.col("n") >= F.col("s")).alias("selected"),
        )
        .orderBy("doc_id")
    )


_DSIR_SW_LITS = ", ".join(f"'{s}'" for s in T.STOPWORDS)
CORPUS_DSIR_SQL = f"""
WITH tgt AS (
  SELECT doc_id,
         (len(list_filter(string_split(text, ' '), t -> t IN ({_DSIR_SW_LITS}))) * 100
            >= len(string_split(text, ' ')) * {DSIR_SW_PCT}) AS is_target
  FROM documents
), tokd AS (
  SELECT d.doc_id, t.is_target, unnest(string_split(d.text, ' ')) AS tok
  FROM documents d JOIN tgt t ON d.doc_id = t.doc_id
), b AS (
  SELECT doc_id, is_target,
         {T.token_hash_sql('tok', seed=DSIR_SEED)} % {DSIR_BUCKETS} AS bucket
  FROM tokd
), rates AS (
  SELECT bucket, count(*) AS cr, count(*) FILTER (is_target) AS ct
  FROM b GROUP BY bucket
), scored AS (
  SELECT doc_id,
         CAST(SUM(((ct + 1) * {DSIR_SCALE}) // (cr + 1)) // COUNT(*) AS BIGINT)
           AS dsir_score
  FROM b JOIN rates USING (bucket) GROUP BY doc_id
), tot AS (SELECT CAST(SUM(dsir_score) AS BIGINT) AS s, COUNT(*) AS n FROM scored)
SELECT doc_id, dsir_score, (dsir_score * n >= s) AS selected
FROM scored CROSS JOIN tot
ORDER BY doc_id
"""


TOKEN_BUDGET = 1_000_000  # training-run token budget for the epoch planner


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting + epoch planning per source — the bookkeeping step
    that decides how many passes over each source a fixed training budget
    buys. Per source: doc/token counts, corpus share in basis points, and
    milli-epochs = (uniform per-source quota * 1000) div n_tokens (>1000
    means the source repeats within the budget — the multi-epoch signal).

    All-integer outputs (share_bp = n_tokens*10000 div total) so both
    engines agree exactly. Scale shape: one groupBy(source) aggregate with
    map-side combine over a scan-local size(), then a 1-row totals
    crossJoin — broadcast by construction."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE token-mass definition for the budget, the schedule, and the
    # schedule twin's state cells: delegate to epoch_source_agg
    # (expression-identical — the gated plan digest is pinned unchanged
    # by test_token_budget_accounting_is_consistent's recount)
    per_src = epoch_source_agg(docs)
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 10000 div total_tokens").alias("share_bp"),
            F.expr(
                f"(({TOKEN_BUDGET} div n_sources) * 1000) div n_tokens"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


CORPUS_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       n_tokens * 10000 // total_tokens AS share_bp,
       (({TOKEN_BUDGET} // n_sources) * 1000) // n_tokens AS epochs_milli
FROM per_src CROSS JOIN tot
ORDER BY source
"""


# ------------- data-constrained epoch schedule (staged r15, gates r16)
# corpus_token_budget answers "how many epochs does a uniform per-source
# quota buy"; this op answers the NEXT question a data-constrained run
# actually faces (Muennighoff et al. 2023, "Scaling Data-Constrained
# Language Models": repeating data beyond ~4 epochs returns rapidly
# diminishing value): CAP each source's repeats and REDISTRIBUTE the
# freed budget to the sources that can still absorb it. One-round
# water-filling, all-integer: uniform quota → cap verdict per source →
# the capped sources' surplus flows to uncapped sources proportional to
# their token mass → a final clamp (a source the redistribution itself
# pushes over the cap clamps and the residual stays unallocated —
# deliberately ONE round, so the schedule is a closed form both engines
# replay exactly rather than an iterative fixpoint).
#
# Scale shape: the only corpus-sized work is the same per-source token
# scan corpus_token_budget pays; everything after is |sources|-row
# arithmetic with two 1-row broadcast crossJoins (the asserted-bound
# idiom). Output |sources| rows.
EPOCH_CAP_MILLI = 4_000  # max useful repeats, in milli-epochs


def epoch_source_agg(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens): the ADDITIVE per-source cells the
    streaming twin accumulates — doc and token counts add per source, so
    batch boundaries cannot matter and a late batch only adds into its
    cells."""
    # expression-identical to corpus_token_budget's per-source aggregate
    # (count already returns BIGINT; sum over BIGINT stays BIGINT — no
    # redundant casts, so token_budget can DELEGATE here without its
    # gated plan identity moving)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(T.tokens(F.col("text"))).cast("bigint")).alias(
            "n_tokens"
        ),
    )


def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r15 (gates r16): capped + redistributed per-source token
    quotas under TOKEN_BUDGET — (source, n_docs, n_tokens, quota_tokens,
    epochs_milli, capped), integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_schedule_report(epoch_source_agg(docs))


def epoch_schedule_report(per_src: DataFrame) -> DataFrame:
    """The water-fill finisher over (source, n_docs, n_tokens) cells —
    the whole closed form re-derives from the assembled cells, so the
    streaming twin reuses it verbatim."""
    tot = per_src.agg(F.count(F.lit(1)).alias("n_sources"))
    flagged = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(f"{TOKEN_BUDGET} div n_sources").alias("quota0"),
        F.expr(
            f"(({TOKEN_BUDGET} div n_sources) * 1000) div n_tokens"
            f" > {EPOCH_CAP_MILLI}"
        ).alias("capped"),
    )
    pools = flagged.agg(
        F.sum(
            F.when(
                F.col("capped"),
                F.col("quota0")
                - F.expr(
                    f"(CAST(n_tokens AS DECIMAL(38,0))"
                    f" * {EPOCH_CAP_MILLI}) div 1000"
                ).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("surplus"),
        F.sum(F.when(~F.col("capped"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("pool"),
    )
    quota = F.expr(
        f"CASE WHEN capped THEN CAST((CAST(n_tokens AS DECIMAL(38,0))"
        f" * {EPOCH_CAP_MILLI}) div 1000 AS BIGINT) "
        "ELSE quota0 + coalesce(CAST((CAST(surplus AS DECIMAL(38,0))"
        " * n_tokens) div nullif(pool, 0) AS BIGINT), CAST(0 AS BIGINT)) "
        "END"
    )
    return (
        flagged.crossJoin(F.broadcast(pools))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            quota.cast("long").alias("quota_tokens"),
            "capped",
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "quota_tokens",
            F.expr(
                f"least(CAST({EPOCH_CAP_MILLI} AS BIGINT), "
                "CAST((CAST(quota_tokens AS DECIMAL(38,0)) * 1000)"
                " div n_tokens AS BIGINT))"
            ).alias("epochs_milli"),
            "capped",
        )
        .orderBy("source")
    )


EPOCH_SCHEDULE_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT COUNT(*) AS n_sources FROM per_src),
flagged AS (
  SELECT source, n_docs, n_tokens,
         CAST({TOKEN_BUDGET} // n_sources AS BIGINT) AS quota0,
         (({TOKEN_BUDGET} // n_sources) * 1000) // n_tokens
           > {EPOCH_CAP_MILLI} AS capped
  FROM per_src CROSS JOIN tot
), pools AS (
  SELECT CAST(SUM(CASE WHEN capped
                  THEN quota0 - (CAST(n_tokens AS HUGEINT) * {EPOCH_CAP_MILLI}) // 1000
                  ELSE 0 END) AS BIGINT) AS surplus,
         CAST(SUM(CASE WHEN NOT capped THEN n_tokens ELSE 0 END) AS BIGINT)
           AS pool
  FROM flagged
), q AS (
  SELECT source, n_docs, n_tokens, capped,
         CAST(CASE WHEN capped THEN (CAST(n_tokens AS HUGEINT) * {EPOCH_CAP_MILLI}) // 1000
              ELSE quota0
                + COALESCE((CAST(surplus AS HUGEINT) * n_tokens) // NULLIF(pool, 0), 0)
              END AS BIGINT) AS quota_tokens
  FROM flagged CROSS JOIN pools
)
SELECT source, n_docs, n_tokens, quota_tokens,
       least(CAST({EPOCH_CAP_MILLI} AS BIGINT),
             CAST((CAST(quota_tokens AS HUGEINT) * 1000) // n_tokens AS BIGINT))
         AS epochs_milli,
       capped
FROM q
ORDER BY source
"""


CDC_SEED = 131
CDC_MOD = 16  # expected chunk length in tokens (geometric, mean = CDC_MOD)


def corpus_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: a chunk boundary opens before a token when
    the hash of its 2-token window (previous token + itself) ≡ 0 (mod
    CDC_MOD) — the rolling-hash boundary rule of LBFS-family CDC, applied
    to token streams. Unlike corpus_chunk_tokens' fixed-size packing,
    boundaries depend only on local content: inserting or deleting tokens
    perturbs at most the adjacent chunks instead of shifting every
    downstream boundary — which is what makes chunk-level exact dedup
    (dedup_exact over chunk hashes) stable under edits. The window is 2
    tokens (not 1) so the boundary space is the corpus's BIGRAM vocabulary
    — a single-token rule degenerates on small-vocab corpora, where the
    boundary set collapses to a handful of fixed words (on this corpus's
    31-word vocabulary, to zero).

    Scale shape: posexplode pipelined into the scan; the lag and the
    chunk-id running count share ONE window spec partitioned by doc_id —
    per-doc state, embarrassingly parallel across docs, no global window;
    reassembly groups on (doc_id, chunk_id) with the
    array_sort(struct(pos, tok)) rebuild making collect_list order
    irrelevant."""
    return cdc_chunks(load_table(spark, sf_dir, "documents"))


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """DataFrame→DataFrame combinator behind corpus_cdc_chunk. Expects
    (doc_id, text); emits (doc_id, chunk_id, n_tokens, chunk_text)."""
    from pyspark.sql import Window

    tokpos = docs.select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    ord_w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("tok").over(ord_w)
    bflag = (
        F.when(prev.isNull(), F.lit(0))
        .when(
            (
                T.token_hash(F.concat(prev, F.lit(" "), F.col("tok")), seed=CDC_SEED)
                % CDC_MOD
            )
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunked = tokpos.select(
        "doc_id",
        "pos",
        "tok",
        F.sum(bflag).over(w).alias("chunk_id"),
    )
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x.tok,
                ),
                " ",
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


_CDC_B = (
    "CASE WHEN prev IS NULL THEN 0 WHEN "
    + T.token_hash_sql("(prev || ' ' || tok)", seed=CDC_SEED)
    + f" % {CDC_MOD} = 0 THEN 1 ELSE 0 END"
)
CORPUS_CDC_SQL = f"""
WITH tokpos AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
), lagd AS (
  SELECT doc_id, pos, tok,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tokpos
), chunked AS (
  SELECT doc_id, pos, tok,
         CAST(SUM({_CDC_B}) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS chunk_id
  FROM lagd
)
SELECT doc_id, chunk_id, count(*) AS n_tokens,
       string_agg(tok, ' ' ORDER BY pos) AS chunk_text
FROM chunked
GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id
"""


def corpus_merge_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest triage: classify every NEW-batch document against
    the existing corpus before admitting it — the merge step a production
    corpus runs per ingest cycle, composed from the incremental primitives
    so no stage ever re-pairs the corpus against itself:

      low_quality  — fails the quality gate (scan-local score);
      dup_exact    — byte-identical to a corpus document (digest
                     anti-join probe: |new| rows against the corpus digest
                     set, hint-free — AQE broadcasts the NEW side, the
                     small one, and the corpus streams through);
      near_dup     — ≥1 corpus near-duplicate at the 0.5 Jaccard threshold
                     (asymmetric LSH band join from dedup_incremental_lsh:
                     O(|new| x bucket-overlap), never O(corpus²));
      accepted     — admit.

    Verdict precedence is quality → exact → near-dup (cheapest evidence
    first, matching the order the gates would actually short-circuit in).
    Output: one row per new doc with the verdict + near-dup audit stats.

    The near-dup probe runs with the CAPPED corpus band side
    (CC_COMPOSED_EDGE_CAP=512 — VERDICT r8 #8): per-batch candidate work
    stays O(|new|·n_bands·cap) however large a corpus duplicate cluster
    grows; at gate SFs no bucket exceeds the cap, so results are provably
    the uncapped ones (the oracle mirrors the cap)."""
    from .dedup import CC_COMPOSED_EDGE_CAP, INCR_BATCH_MOD, INCR_BATCH_RESIDUE

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    is_new = (F.col("doc_id") % INCR_BATCH_MOD) == INCR_BATCH_RESIDUE
    return merge_triage(
        docs.filter(is_new), docs.filter(~is_new), cap=CC_COMPOSED_EDGE_CAP
    )


def merge_triage(
    new: DataFrame, corpus: DataFrame, cap: int | None = None
) -> DataFrame:
    """DataFrame→DataFrame combinator behind corpus_merge_increment. Both
    inputs expect (doc_id, text). Per-new-doc verdicts depend only on (the
    doc's text, the corpus), so the triage is stateless given the corpus
    side — which is what lets it run per micro-batch against a STATIC
    corpus table on a document stream (stream-static joins;
    tests/test_streaming.py proves batch/stream equality, uncapped and
    capped). With `cap`, the near-dup screen bounds each corpus band
    bucket to its `cap` lowest doc_ids (incremental_matches_capped — the
    giant-corpus-cluster defense); None = the exact asymmetric screen."""
    from .dedup import incremental_matches, incremental_matches_capped

    qual_ok = T.quality_score(T.tokens(F.col("text"))) >= QUALITY_THRESHOLD
    # digests wrapped NON-NULLABLE (text is non-null on both sides by the
    # callers' filters): the h equi-join otherwise infers IsNotNull(h) and
    # pushes it — with the md5 substituted in — into the scans, where each
    # doc pays the digest twice (r15; the decontamination-gram fix).
    h_nn = F.coalesce(F.md5("text"), F.lit(""))
    corp_digests = corpus.select(h_nn.alias("h")).distinct()
    flagged = new.select(
        "doc_id", h_nn.alias("h"), qual_ok.alias("qual_ok")
    ).join(corp_digests.withColumn("is_exact", F.lit(True)), "h", "left")
    if cap is None:
        inc = incremental_matches(new, corpus)
    else:
        inc = incremental_matches_capped(new, corpus, cap=cap)
    verdict = (
        F.when(~F.col("qual_ok"), F.lit("low_quality"))
        .when(F.col("is_exact"), F.lit("dup_exact"))
        .when(F.col("n_corpus_matches") > 0, F.lit("near_dup"))
        .otherwise(F.lit("accepted"))
    )
    out = flagged.join(inc, "doc_id").select(
        "doc_id",
        verdict.alias("verdict"),
        "n_corpus_matches",
        "best_jaccard",
    )
    # shielded (r15): the bare sort's range sampler re-ran the composed
    # triage joins above this point
    return shielded_sort(out, "doc_id")


def _merge_increment_sql() -> str:
    from .dedup import (
        CC_COMPOSED_EDGE_CAP,
        INCR_BATCH_MOD,
        INCR_BATCH_RESIDUE,
        JACCARD_THRESHOLD,
        _minhash_cte_body,
        _VERIFIED_JACCARD,
    )

    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    return f"""
WITH {_minhash_cte_body()}, cbands AS (
  SELECT doc_id, band_idx, band_key,
         ROW_NUMBER() OVER (PARTITION BY band_idx, band_key
                            ORDER BY doc_id) AS rn
  FROM bands WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE}
), candi AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
  FROM bands a
  JOIN cbands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}
    AND b.rn <= {CC_COMPOSED_EDGE_CAP}
), verified AS (
  SELECT doc_new, doc_corpus, CAST({_VERIFIED_JACCARD} AS DOUBLE) AS jaccard
  FROM candi
  JOIN sig x ON candi.doc_new = x.doc_id
  JOIN sig y ON candi.doc_corpus = y.doc_id
  WHERE {_VERIFIED_JACCARD} >= {JACCARD_THRESHOLD}
), inc AS (
  SELECT d.doc_id, COUNT(v.doc_corpus) AS n_corpus_matches,
         MAX(v.jaccard) AS best_jaccard
  FROM (SELECT doc_id FROM documents
        WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE}) d
  LEFT JOIN verified v ON d.doc_id = v.doc_new
  GROUP BY d.doc_id
), corp AS (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % {INCR_BATCH_MOD} <> {INCR_BATCH_RESIDUE} AND text IS NOT NULL
), newd AS (
  SELECT doc_id, md5(text) AS h, ({quality} >= {QUALITY_THRESHOLD}) AS qual_ok
  FROM documents
  WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_RESIDUE} AND text IS NOT NULL
)
SELECT n.doc_id AS doc_id,
       CASE WHEN NOT qual_ok THEN 'low_quality'
            WHEN c.h IS NOT NULL THEN 'dup_exact'
            WHEN i.n_corpus_matches > 0 THEN 'near_dup'
            ELSE 'accepted' END AS verdict,
       i.n_corpus_matches AS n_corpus_matches,
       i.best_jaccard AS best_jaccard
FROM newd n
LEFT JOIN corp c ON n.h = c.h
JOIN inc i ON n.doc_id = i.doc_id
ORDER BY n.doc_id
"""


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus health dashboard every curation run reports
    before training is approved: volume (docs/tokens), quality-gate pass
    rate, repetition-gate pass rate, benchmark-contamination rate, exact
    duplication, and language spread — each the SAME expression the
    corresponding gate applies, so the report can never drift from what
    the pipeline actually enforces. Rates in basis points (integer — the
    multiply-not-divide idiom keeps both engines bit-identical).

    Scale shape: one scan-local pass for the per-doc flags + three
    aggregate joins for the gate verdicts that need corpus-wide state
    (distinct digests, bigram stats, contamination hits) — every one an
    aggregate this module's gated queries already run; the final assembly
    is 1-row crossJoins of query-planning state."""
    from .text_analysis import contamination_report, repetition_flags

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = T.tokens(F.col("text"))
    qual = T.quality_score(toks) >= QUALITY_THRESHOLD
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
        F.count_if(qual).alias("n_quality_pass"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    n_unique = docs.select(F.md5("text").alias("h")).distinct().agg(
        F.count(F.lit(1)).alias("n_unique_texts")
    )
    n_rep = repetition_flags(docs).agg(
        F.count_if(F.col("keep")).alias("n_repetition_pass")
    )
    n_cont = contamination_report(docs).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        base.crossJoin(F.broadcast(n_unique))
        .crossJoin(F.broadcast(n_rep))
        .crossJoin(F.broadcast(n_cont))
        .select(
            "n_docs",
            "n_tokens",
            F.expr("n_quality_pass * 10000 div nullif(n_docs, 0)").alias("quality_pass_bp"),
            F.expr("n_repetition_pass * 10000 div nullif(n_docs, 0)").alias(
                "repetition_pass_bp"
            ),
            F.expr("n_contaminated * 10000 div nullif(n_docs, 0)").alias("contaminated_bp"),
            (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dup_docs"),
            "n_langs",
            "n_sources",
        )
    )


def quality_report_vs(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """The curation dashboard against an EXPLICIT eval set — the deployable
    variant of corpus_quality_report (whose bench slice is self-derived for
    oracle parity): same columns, same gate expressions, contamination
    screened with contamination_report_vs. This is also the batch
    ground-truth the incremental streaming report
    (streaming/pipeline.quality_state_batch driven by attach_state_stream)
    is tested against.
    ``docs`` expects (doc_id, text, lang, source)."""
    from .text_analysis import contamination_report_vs, repetition_flags

    docs = docs.filter(F.col("text").isNotNull())
    toks = T.tokens(F.col("text"))
    qual = T.quality_score(toks) >= QUALITY_THRESHOLD
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks).cast("bigint")).alias("n_tokens"),
        F.count_if(qual).alias("n_quality_pass"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    n_unique = docs.select(F.md5("text").alias("h")).distinct().agg(
        F.count(F.lit(1)).alias("n_unique_texts")
    )
    n_rep = repetition_flags(docs).agg(
        F.count_if(F.col("keep")).alias("n_repetition_pass")
    )
    n_cont = contamination_report_vs(docs, bench).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        base.crossJoin(F.broadcast(n_unique))
        .crossJoin(F.broadcast(n_rep))
        .crossJoin(F.broadcast(n_cont))
        .select(
            "n_docs",
            "n_tokens",
            F.expr("n_quality_pass * 10000 div nullif(n_docs, 0)").alias("quality_pass_bp"),
            F.expr("n_repetition_pass * 10000 div nullif(n_docs, 0)").alias(
                "repetition_pass_bp"
            ),
            F.expr("n_contaminated * 10000 div nullif(n_docs, 0)").alias("contaminated_bp"),
            (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dup_docs"),
            "n_langs",
            "n_sources",
        )
    )


def _quality_report_sql() -> str:
    from .text_analysis import DECON_BENCH_MOD, DECON_BENCH_RESIDUE, DECON_NGRAM

    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    quality = (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )
    grams2 = T.word_shingles_sql("string_split(text, ' ')", 2)
    gramsn = T.word_shingles_sql("string_split(text, ' ')", DECON_NGRAM)
    gh = T.token_hash_sql("g")
    return f"""
WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         COUNT(*) FILTER ({quality} >= {QUALITY_THRESHOLD}) AS n_quality_pass,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources
  FROM docs
), uniq AS (
  SELECT COUNT(*) AS n_unique_texts FROM (SELECT DISTINCT md5(text) FROM docs)
), per2 AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({grams2}) AS g FROM docs)
  GROUP BY doc_id, g
), ragg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS n_distinct, MAX(c) AS max_c
  FROM per2 GROUP BY doc_id
), rep AS (
  SELECT COUNT(*) AS n_repetition_pass FROM docs d
  LEFT JOIN ragg a ON d.doc_id = a.doc_id
  WHERE a.n_grams IS NULL
     OR ((a.n_grams - a.n_distinct) / a.n_grams <= 0.3
         AND a.max_c / a.n_grams <= 0.2)
), hashedn AS (
  SELECT doc_id, list_distinct(list_transform({gramsn}, g -> {gh})) AS ghs
  FROM docs
), bench AS (
  SELECT DISTINCT unnest(ghs) AS gh FROM hashedn
  WHERE doc_id % {DECON_BENCH_MOD} = {DECON_BENCH_RESIDUE}
), cont AS (
  SELECT COUNT(*) AS n_contaminated FROM (
    SELECT DISTINCT t.doc_id FROM (
      SELECT doc_id, unnest(ghs) AS gh FROM hashedn
      WHERE doc_id % {DECON_BENCH_MOD} != {DECON_BENCH_RESIDUE}
    ) t JOIN bench b ON t.gh = b.gh
  )
)
SELECT n_docs, n_tokens,
       n_quality_pass * 10000 // n_docs AS quality_pass_bp,
       n_repetition_pass * 10000 // n_docs AS repetition_pass_bp,
       n_contaminated * 10000 // n_docs AS contaminated_bp,
       n_docs - n_unique_texts AS n_exact_dup_docs,
       n_langs, n_sources
FROM base CROSS JOIN uniq CROSS JOIN rep CROSS JOIN cont
"""


# ---------------------------------------------------------------------------
# Deterministic global training-order shuffle. A training run wants the
# corpus in a pseudo-random order that is (a) reproducible across re-runs
# and resumes, (b) independent of storage layout, and (c) addressable as
# (shard file, offset) so data loaders can seek. Hash-keyed shuffling gives
# all three without a global total sort.
SHUFFLE_SEED = 193
N_SHARDS = 8  # dev-corpus setting; production sets this to the output file
#              count (thousands), which is also what bounds each window
#              partition below to loader-file size.


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every document gets a shard
    and a contiguous 1-based position within that shard, both pure
    functions of doc_id and the seed.

    order key = md5-hash(seed:doc_id) — the same keyed-hash machinery as
    corpus_hash_sample/_doc_pct, so shuffle order is uncorrelated with the
    sample/split assignments (different seeds) yet fully reproducible.
    shard = hash % N_SHARDS; position = rank of the hash within the shard
    (doc_id tie-break, though 60-bit hash ties are ~never).

    100 TB shape: the hash and shard are scan-local expressions; the only
    exchange is the row_number window PARTITIONED BY shard — parallelism
    equals N_SHARDS, so a production run sets N_SHARDS to the desired
    output-file count (thousands), giving loader-sized (few-GB) window
    partitions and full cluster width. No global total order is ever
    materialized; epoch reshuffles are a seed change, not a data move."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = T.token_hash(F.col("doc_id").cast("string"), seed=SHUFFLE_SEED)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select(
            "doc_id",
            (h % N_SHARDS).cast("int").alias("shard"),
            h.alias("h"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", F.col("pos").cast("bigint").alias("pos"))
        .orderBy("shard", "pos")
    )


_SHUF_H = T.token_hash_sql("CAST(doc_id AS VARCHAR)", seed=SHUFFLE_SEED)
CORPUS_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, CAST({_SHUF_H} % {N_SHARDS} AS INT) AS shard, {_SHUF_H} AS h
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM keyed
ORDER BY shard, pos
"""


def write_training_corpus(df: DataFrame, out_dir: str) -> None:
    """Persist the training rows partitioned by split: downstream training
    readers scan only their split's directory (PartitionFilters prune)."""
    df.write.mode("overwrite").partitionBy("split").parquet(out_dir)


# ------------------------------------------------------- per-source cap

SOURCE_CAP_K = 8  # max documents kept per source


def _quality_sql() -> str:
    sw = T.stopword_ratio_sql("string_split(text, ' ')")
    atl = T.avg_token_len_sql("string_split(text, ' ')")
    return (
        f"(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)"
        f" + 0.3 * (1.0 - {sw})"
        f" + 0.2 * least({atl} / 8.0, 1.0))"
    )


def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (r12): keep the SOURCE_CAP_K best documents
    of every source by quality score — the RefinedWeb/C4-style per-domain
    cap that stops a single hot domain (content farms, boilerplate mirrors)
    from dominating the training mixture. Ranking is on the fixed-point
    quality (ppm, the dedup_cluster_best idiom: both engines truncate the
    same double toward zero), tie-broken by doc_id, so the kept set is
    deterministic and engine-independent.

    Scale shape: one scan computes q_ppm scan-local, then a single
    hash-exchange on `source` feeds the rank window; output is bounded at
    K·|sources| regardless of corpus size. A pathologically hot domain
    skews its window partition — at 100 TB the standard fix is a
    per-partition pre-top-K (keep K best per task, then rank the
    K·n_tasks survivors), which composes from the same pieces: the
    streaming twin (streaming/pipeline.py source_cap_state_batch /
    incremental_source_cap) IS that composition across micro-batches —
    per-batch top-Ks are lossless for the global cap because batches
    partition the corpus, so re-ranking their union equals this query."""
    return source_cap_rank(_scored_docs(load_table(spark, sf_dir, "documents"))).orderBy(
        "source", "q_rank"
    )


def _scored_docs(docs: DataFrame) -> DataFrame:
    q_ppm = (T.quality_score(T.tokens(F.col("text"))) * 1_000_000).cast("long")
    return docs.select("doc_id", "source", q_ppm.alias("q_ppm"))


def source_cap_rank(scored: DataFrame) -> DataFrame:
    """The cap's rank-and-keep stage over already-scored (doc_id, source,
    q_ppm) rows — shared verbatim by the gated query and the streaming
    twin's read-side re-rank."""
    w = Window.partitionBy("source").orderBy(F.desc("q_ppm"), F.asc("doc_id"))
    return (
        scored.withColumn("q_rank", F.row_number().over(w))
        .filter(F.col("q_rank") <= SOURCE_CAP_K)
    )


def source_cap_candidates(docs: DataFrame) -> DataFrame:
    """A document batch's per-source top-K survivors (the streaming twin's
    bounded per-batch state: K·|sources| rows however large the batch)."""
    return source_cap_rank(_scored_docs(docs)).select("doc_id", "source", "q_ppm")


CORPUS_SOURCE_CAP_SQL = f"""
WITH q AS (
  SELECT doc_id, source,
         CAST(TRUNC({{quality}} * 1000000) AS BIGINT) AS q_ppm
  FROM documents
), r AS (
  SELECT doc_id, source, q_ppm,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY q_ppm DESC, doc_id) AS INT) AS q_rank
  FROM q
)
SELECT doc_id, source, q_ppm, q_rank FROM r
WHERE q_rank <= {SOURCE_CAP_K}
ORDER BY source, q_rank
"""


# --------------------------------------------------------- filter cascade

CASCADE_MIN_TOKENS = 20  # Gopher-style document length gates
CASCADE_MAX_TOKENS = 90
CASCADE_TTR_PCT = 55  # distinct/total token ratio below this % = repetitive


def corpus_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with FIRST-FAILING reason codes (r12): the
    CCNet/RefinedWeb-style rule chain — length gates → language gate →
    heuristic quality gate → repetition gate — evaluated as one scan-local
    CASE so every document gets exactly one decision ('keep' or the first
    reason that rejected it). The gated output is the per-(source,
    decision) funnel report (doc and token counts): the dashboard a
    curation team actually reads, and a value gate on every per-doc
    decision (any CASE flip moves a count). The length/repetition gates
    are pure integers; the repetition gate is integer cross-multiplied
    (n_distinct·100 < n_tokens·TTR_PCT); the quality gate reuses the
    SHARED bit-deterministic double expression every corpus pipeline
    filters on (functions/text.py quality_score).

    Scale shape: one pass, zero joins — a scan-local CASE feeding a
    partial-aggregable groupBy over ~|sources|·6 cells. This is the
    flat-decade shape: at 100 TB it is bounded by the scan. The cells are
    purely ADDITIVE across disjoint document batches (decisions are
    per-doc, no cross-doc state), so the streaming twin
    (streaming/pipeline.py cascade_state_batch / incremental_filter_cascade)
    merges per-batch cells by plain summation into EXACTLY this report."""
    return cascade_cells(load_table(spark, sf_dir, "documents")).orderBy(
        "source", "decision"
    )


def cascade_cells(docs: DataFrame) -> DataFrame:
    """Per-(source, decision) funnel cells for a document batch — the
    shared kernel of the gated corpus_filter_cascade and its streaming
    twin. Additive: n_docs/tot_tokens sum across batches."""
    toks = T.tokens(F.col("text"))
    d = docs.select(
        "source",
        "lang",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_dist"),
        T.quality_score(toks).alias("q"),
    )
    decision = (
        F.when(F.col("n_toks") < CASCADE_MIN_TOKENS, "too_short")
        .when(F.col("n_toks") > CASCADE_MAX_TOKENS, "too_long")
        .when(F.col("lang") != "en", "non_english")
        .when(F.col("q") < QUALITY_THRESHOLD, "low_quality")
        .when(
            F.col("n_dist") * 100 < F.col("n_toks") * CASCADE_TTR_PCT, "repetitive"
        )
        .otherwise("keep")
    )
    return (
        d.select("source", decision.alias("decision"), "n_toks")
        .groupBy("source", "decision")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("tot_tokens"),
        )
    )


CORPUS_FILTER_CASCADE_SQL = f"""
WITH d AS (
  SELECT source,
         CASE
           WHEN len(string_split(text, ' ')) < {CASCADE_MIN_TOKENS} THEN 'too_short'
           WHEN len(string_split(text, ' ')) > {CASCADE_MAX_TOKENS} THEN 'too_long'
           WHEN lang != 'en' THEN 'non_english'
           WHEN {{quality}} < {QUALITY_THRESHOLD} THEN 'low_quality'
           WHEN len(list_distinct(string_split(text, ' '))) * 100
                < len(string_split(text, ' ')) * {CASCADE_TTR_PCT} THEN 'repetitive'
           ELSE 'keep'
         END AS decision,
         len(string_split(text, ' ')) AS n_toks
  FROM documents
)
SELECT source, decision,
       COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS tot_tokens
FROM d GROUP BY source, decision
ORDER BY source, decision
"""


# --------------------------------------------------- span corruption plan

MASK_SEED = 131
MASK_PCT = 15  # T5-style corruption rate: ~15% of token positions masked


def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption PLANNING (r12, gates in the r13
    window — the r12 window is full by the rotation contract): decide,
    deterministically and engine-neutrally, which token spans of each
    document get masked for seq2seq denoising training. Position p of
    doc d is masked iff md5(seed:d:p) % 100 < MASK_PCT — a reproducible
    hash-Bernoulli that no RNG/partition layout can perturb (the
    corpus_hash_sample discipline at token grain) — and contiguous
    masked positions assemble into spans via gaps-and-islands
    (p − row_number), yielding the exact (doc_id, span_idx, start_pos,
    span_len) layout a sentinel-token writer consumes. Geometric-ish
    span lengths emerge from run statistics of the Bernoulli mask rather
    than a second length draw, keeping the whole plan one expression
    family.

    Scale shape: posexplode → scan-local hash filter (drops 85% of
    positions before any shuffle) → one doc_id-keyed window + one
    grouped aggregate; output rows ≈ docs × corrupted-span count."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    pos = docs.select("doc_id", F.posexplode("toks").alias("p", "tok")).select(
        "doc_id", "p"
    )
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("p").cast("string")
    )
    masked = pos.filter(T.token_hash(key, seed=MASK_SEED) % 100 < MASK_PCT)
    w = Window.partitionBy("doc_id").orderBy("p")
    spans = (
        masked.withColumn("grp", F.col("p") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("p").cast("long").alias("start_pos"),
            F.count(F.lit(1)).alias("span_len"),
        )
    )
    wi = Window.partitionBy("doc_id").orderBy("start_pos")
    return (
        spans.withColumn("span_idx", F.row_number().over(wi).cast("int"))
        .select("doc_id", "span_idx", "start_pos", "span_len")
        .orderBy("doc_id", "span_idx")
    )


def _span_corruption_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_span_corruption_oracle_agrees_cross_engine; registered r13)."""
    hk = T.token_hash_sql(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR))", seed=MASK_SEED
    )
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, unnest(range(0, len(t))) AS p FROM toks),
masked AS (
  SELECT doc_id, p FROM pos WHERE {hk} % 100 < {MASK_PCT}
),
isl AS (
  SELECT doc_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM masked
),
spans AS (
  SELECT doc_id, grp, CAST(MIN(p) AS BIGINT) AS start_pos,
         COUNT(*) AS span_len
  FROM isl GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id ORDER BY start_pos) AS INT) AS span_idx,
       start_pos, span_len
FROM spans
ORDER BY doc_id, span_idx
"""


# -------------------------------------------------- curriculum order (r13)
# Curriculum learning (Bengio et al. 2009, public): present clean data
# first, noisier data later. Difficulty proxy = the shared fixed-point
# quality score; tiers are FIXED ppm thresholds (never a global ntile —
# a global-sort window is the scale-killer the plan audit counts), and
# the within-tier order is the corpus_shuffle_shards machinery under its
# own seed, so curriculum position is uncorrelated with sampling/split
# assignments yet fully reproducible (an epoch reshuffle is a seed bump).
CURRICULUM_SEED = 229
CURRICULUM_TIER1_PPM = 700_000  # q_ppm >= this -> tier 0 (cleanest, first)
CURRICULUM_TIER2_PPM = 550_000  # q_ppm >= this -> tier 1; below -> tier 2


def curriculum_order(docs: DataFrame) -> DataFrame:
    """(doc_id, tier, shard, pos): tier-major training order — read tiers
    in order, shards within a tier in parallel, pos within (tier, shard).
    100 TB shape: quality, tier, hash and shard are scan-local; the only
    exchange feeds the (tier, shard)-PARTITIONED rank window, so window
    partitions stay loader-sized at any corpus size (the
    corpus_shuffle_shards argument)."""
    h = T.token_hash(F.col("doc_id").cast("string"), seed=CURRICULUM_SEED)
    tier = (
        F.when(F.col("q_ppm") >= CURRICULUM_TIER1_PPM, F.lit(0))
        .when(F.col("q_ppm") >= CURRICULUM_TIER2_PPM, F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
    )
    w = Window.partitionBy("tier", "shard").orderBy("h", "doc_id")
    # _scored_docs is THE quality rendering every quality-ranked operator
    # shares (source_cap, the cascade) — reusing it keeps curriculum
    # tiers in lockstep with any future score fix (review r13)
    return (
        _scored_docs(docs)
        .select(
            "doc_id",
            tier.alias("tier"),
            (h % N_SHARDS).cast("int").alias("shard"),
            h.alias("h"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "tier", "shard", F.col("pos").cast("bigint").alias("pos"))
        .orderBy("tier", "shard", "pos")
    )


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged r13 (gates r14): deterministic easy-first curriculum over
    the documents table."""
    return curriculum_order(load_table(spark, sf_dir, "documents"))


def _curriculum_sql() -> str:
    """Staged DuckDB oracle (validated by
    test_curriculum_oracle_agrees_cross_engine; registers r14)."""
    h = T.token_hash_sql("CAST(doc_id AS VARCHAR)", seed=CURRICULUM_SEED)
    return f"""
WITH scored AS (
  SELECT doc_id,
         CAST(TRUNC({_quality_sql()} * 1000000) AS BIGINT) AS q_ppm,
         {h} AS h
  FROM documents
),
keyed AS (
  SELECT doc_id,
         CAST(CASE WHEN q_ppm >= {CURRICULUM_TIER1_PPM} THEN 0
                   WHEN q_ppm >= {CURRICULUM_TIER2_PPM} THEN 1
                   ELSE 2 END AS INT) AS tier,
         CAST(h % {N_SHARDS} AS INT) AS shard, h
  FROM scored
)
SELECT doc_id, tier, shard,
       ROW_NUMBER() OVER (PARTITION BY tier, shard ORDER BY h, doc_id) AS pos
FROM keyed
ORDER BY tier, shard, pos
"""


QUERIES = {
    "corpus_hash_sample": corpus_hash_sample,
    "corpus_split_assign": corpus_split_assign,
    "corpus_leakage_safe_split": corpus_leakage_safe_split,
    "corpus_chunk_tokens": corpus_chunk_tokens,
    "corpus_stratified_sample": corpus_stratified_sample,
    "corpus_stratified_predlang": corpus_stratified_predlang,
    "corpus_mixture_sample": corpus_mixture_sample,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_build_full": corpus_build_full,
    "corpus_dsir_sample": corpus_dsir_sample,
    "corpus_token_budget": corpus_token_budget,
    "corpus_cdc_chunk": corpus_cdc_chunk,
    "corpus_merge_increment": corpus_merge_increment,
    "corpus_quality_report": corpus_quality_report,
    "corpus_shuffle_shards": corpus_shuffle_shards,
    "corpus_sliding_chunks": corpus_sliding_chunks,
    "corpus_reservoir_sample": corpus_reservoir_sample,
    "corpus_source_cap": corpus_source_cap,
    "corpus_filter_cascade": corpus_filter_cascade,
    "corpus_span_corruption": corpus_span_corruption,
    "corpus_curriculum_order": corpus_curriculum_order,
}

ORACLE = {
    "corpus_hash_sample": CORPUS_SAMPLE_SQL,
    "corpus_split_assign": CORPUS_SPLIT_SQL,
    "corpus_leakage_safe_split": _leakage_safe_split_sql(),
    "corpus_chunk_tokens": CORPUS_CHUNK_SQL,
    "corpus_stratified_sample": CORPUS_STRATIFIED_SQL,
    "corpus_stratified_predlang": _stratified_predlang_sql(),
    "corpus_mixture_sample": CORPUS_MIXTURE_SQL,
    "corpus_pack_sequences": CORPUS_PACK_SQL,
    "corpus_build_full": _build_full_sql(),
    "corpus_dsir_sample": CORPUS_DSIR_SQL,
    "corpus_token_budget": CORPUS_BUDGET_SQL,
    "corpus_cdc_chunk": CORPUS_CDC_SQL,
    "corpus_merge_increment": _merge_increment_sql(),
    "corpus_quality_report": _quality_report_sql(),
    "corpus_shuffle_shards": CORPUS_SHUFFLE_SQL,
    "corpus_sliding_chunks": CORPUS_SLIDING_SQL,
    "corpus_reservoir_sample": CORPUS_RESERVOIR_SQL,
    "corpus_source_cap": CORPUS_SOURCE_CAP_SQL.format(quality=_quality_sql()),
    "corpus_filter_cascade": CORPUS_FILTER_CASCADE_SQL.format(
        quality=_quality_sql()
    ),
    "corpus_span_corruption": _span_corruption_sql(),
    "corpus_curriculum_order": _curriculum_sql(),
}
