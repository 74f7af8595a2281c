"""End-to-end training-data cleaning pipeline (the north-star composition):

    documents -> quality scoring -> language ID -> near-dup removal
              -> cleaned corpus

Each stage is an already-verified operator (text.py / dedup.py); this query
chains them the way a production pre-training pipeline does, and the DuckDB
oracle is composed from the SAME oracle fragments, so the whole pipeline is
value-checked end to end.

Scale shape: quality + lang are narrow per-row stages fused into one pass
by Catalyst; dedup contributes its band-key shuffle; the final anti-join
removes non-canonical near-dups (keep the lowest doc_id of every dup pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# importing these modules registers their queries AND lets us reuse their
# oracle SQL as CTE bodies so the pipeline oracle can never drift
from thesis_iceberg_spark.queries import REGISTRY, dedup, register, text  # noqa: F401
from thesis_iceberg_spark.queries.textnorm import fold_col, fold_sql


def _ws_toks(lower: bool = False):
    """Case-preserving whitespace tokenizer over `text` (the pipeline
    queries that count/slice tokens don't need lower()); ONE definition so
    the unicode fold can never drift between the three call sites (review
    r10 — the r10 unification existed precisely because twin copies
    drift).  Mirrors text._toks_of's fold-before-trim order; the
    case-preserving form uses cased=False (no İ/Σ fixups — they exist
    only to make lower() portable and would alter case-preserved text)."""
    base = fold_col(F.col("text"), cased=lower)
    if lower:
        base = F.lower(base)
    return F.split(F.trim(base), r"\s+")

def _keyed_u32(prefix: str):
    """First 32 bits of md5(prefix || doc_id) as a BIGINT in [0, 2^32) —
    the ONE keyed-hash kernel behind every deterministic sampling /
    split decision in this module (callers reduce it with % 100 for
    percent buckets or / 2^32 for a uniform [0,1) double).  Twin of the
    oracles' CAST('0x' || substr(md5(prefix || doc_id), 1, 8) AS BIGINT)
    (review r10: this expression existed in four drifting copies;
    review r12 moved the column-input core to hashkit.md5_u32)."""
    from thesis_iceberg_spark.queries.hashkit import md5_u32

    return md5_u32(F.concat(F.lit(prefix), F.col("doc_id").cast("string")))


QUALITY_MIN = 0.5

_PIPELINE_ORACLE = f"""
WITH quality AS ({REGISTRY["text_quality_scores"].oracle}),
langd AS ({REGISTRY["text_lang_id"].oracle}),
dups AS ({REGISTRY["dedup_ngram_jaccard_pairs"].oracle})
SELECT d.doc_id, q.quality_score, l.detected_lang,
       len(regexp_split_to_array(trim({fold_sql('d.text', cased=False)}), '\\s+'))
           AS n_tokens
FROM documents d
JOIN quality q ON q.doc_id = d.doc_id
JOIN langd l ON l.doc_id = d.doc_id
WHERE q.quality_score >= {QUALITY_MIN}
  AND l.detected_lang = 'en'
  AND d.doc_id NOT IN (SELECT doc_b FROM dups)
"""


@register(
    "pipeline_train_eval_split",
    oracle="""
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT doc_id, n_chars,
         CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM documents)
GROUP BY split
""",
    doc="Deterministic hash-based train/eval split (90/10): the split of a "
    "document depends only on its id (keyed md5 bucket), so it is stable "
    "across runs, machines and engine versions — the property a training "
    "pipeline needs so re-runs never leak eval docs into train. Verified "
    "bucket-exact against DuckDB.",
)
def pipeline_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    bucket = _keyed_u32("split:") % 100
    split = F.when(bucket < 90, "train").otherwise("eval")
    return (
        docs.select("doc_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "pipeline_clean_corpus",
    oracle=_PIPELINE_ORACLE,
    doc="Training-data cleaning pipeline: quality >= 0.5, detected language "
    "'en', near-dups removed keeping the lowest doc_id of each pair — all "
    "three stages are verified operators composed into one plan, and the "
    "oracle is composed from their oracle fragments.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.queries.dedup import dedup_ngram_jaccard_pairs
    from thesis_iceberg_spark.queries.text import text_lang_id, text_quality_scores
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    quality = text_quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    lang = text_lang_id(spark, sf_dir)
    dup_victims = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    )
    return (
        docs.join(quality, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= QUALITY_MIN)
            & (F.col("detected_lang") == "en")
        )
        .join(dup_victims, "doc_id", "left_anti")
        .select(
            "doc_id",
            "quality_score",
            "detected_lang",
            F.size(_ws_toks(lower=True)).alias("n_tokens"),
        )
    )


# --- PII scrubbing ---------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4,6}\b"


@register(
    "pipeline_pii_scrub",
    oracle=f"""
WITH contact AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com phone 555-0' || CAST(doc_id AS VARCHAR) AS t
  FROM documents),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                        '{_PHONE_RE}', '[PHONE]', 'g') AS clean,
         len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones
  FROM contact)
SELECT doc_id, md5(clean) AS scrubbed_md5,
       CAST(n_emails AS INT) AS n_emails, CAST(n_phones AS INT) AS n_phones
FROM scrubbed
""",
    doc="PII scrubbing for training corpora: email/phone redaction with "
    "match counts. The synthetic corpus has no PII, so a deterministic "
    "contact line (derived from doc_id) is appended first — both engines "
    "build and scrub the same text, so redaction behavior is value-checked "
    "exactly (regex subset chosen to mean the same in Java regex and RE2). "
    "Narrow per-row map, whole-stage codegen, no shuffle.",
)
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com phone 555-0"),
        F.col("doc_id").cast("string"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.md5(clean.cast("binary")).alias("scrubbed_md5"),
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
    )


# --- document chunking (training-window preparation) -----------------------

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40  # 10-token overlap between consecutive chunks


@register(
    "pipeline_chunk_documents",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim({fold_sql('text', cased=False)}), '\\s+') AS t
  FROM documents),
starts AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1, {CHUNK_STRIDE})) AS start
  FROM toks)
SELECT doc_id,
       CAST((start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(len(t[start : start + {CHUNK_TOKENS} - 1]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(t[start : start + {CHUNK_TOKENS} - 1], ' ')) AS chunk_md5
FROM starts
""",
    doc=f"Document chunking into overlapping training windows "
    f"({CHUNK_TOKENS}-token chunks, stride {CHUNK_STRIDE}): the 1-row-in "
    "N-rows-out fan-out is explode(sequence(...)) + slice — pure JVM "
    "builtins, no UDF, no driver involvement; chunk content is verified "
    "by md5. At 100 TB this is a narrow map whose output partitioning "
    "follows the input.",
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = _ws_toks()
    with_starts = docs.select(
        "doc_id",
        t.alias("t"),
        F.explode(
            F.sequence(F.lit(1), F.size(t), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start"), CHUNK_TOKENS)
    return with_starts.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_md5"),
    )


# --- stratified sampling ---------------------------------------------------


@register(
    "pipeline_stratified_sample",
    oracle=f"""
WITH langd AS ({REGISTRY["text_lang_id"].oracle}),
rated AS (
  SELECT l.doc_id, l.detected_lang,
         CASE WHEN l.detected_lang = 'en' THEN 40 ELSE 100 END AS keep_pct,
         CAST('0x' || substr(md5('sample:' || CAST(l.doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bucket
  FROM langd l)
SELECT detected_lang,
       COUNT(*) AS n_total,
       CAST(COUNT(*) FILTER (bucket < keep_pct) AS BIGINT) AS n_sampled
FROM rated GROUP BY detected_lang
""",
    doc="Stratified corpus sampling: per-language keep rates (down-sample "
    "the dominant language to 40%, keep low-resource languages whole) with "
    "a KEYED-md5 bucket, so membership is a pure function of doc_id — "
    "stable across runs and engines, no RNG state. One narrow map + one "
    "count aggregation.",
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.queries.text import text_lang_id

    lang = text_lang_id(spark, sf_dir)
    bucket = _keyed_u32("sample:") % 100
    keep_pct = F.when(F.col("detected_lang") == "en", 40).otherwise(100)
    return (
        lang.select("detected_lang", (bucket < keep_pct).alias("keep"))
        .groupBy("detected_lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if(F.col("keep")).alias("n_sampled"),
        )
    )


# --- sequence packing ------------------------------------------------------

PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "pipeline_pack_sequences",
    oracle=f"""
WITH langd AS ({REGISTRY["text_lang_id"].oracle}),
toks AS (
  SELECT d.doc_id, l.detected_lang,
         len(regexp_split_to_array(trim({fold_sql('d.text', cased=False)}), '\\s+'))
             AS n_tokens
  FROM documents d JOIN langd l ON l.doc_id = d.doc_id),
packed AS (
  SELECT detected_lang, n_tokens,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY detected_lang
                                         ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM toks)
SELECT detected_lang, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_pack
FROM packed GROUP BY detected_lang, pack_id
""",
    doc=f"Sequence packing for pretraining: documents are concatenated per "
    f"language in doc_id order and cut into {PACK_BUDGET}-token packs "
    "(token-offset binning — each doc's pack is where its first token "
    "lands). One window cumsum per language partition + one aggregation; "
    "deterministic because the order key is the stable doc_id, never an "
    "RNG or arrival order. The skew watch-item at 100 TB is one giant "
    "language partition — shard the window key (lang, doc_id div N) the "
    "same way the salted-agg query does.",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from thesis_iceberg_spark.queries.text import text_lang_id
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    lang = text_lang_id(spark, sf_dir)
    n_tokens = F.size(_ws_toks())
    toks = docs.join(lang, "doc_id").select(
        "doc_id", "detected_lang", n_tokens.alias("n_tokens")
    )
    w = (
        Window.partitionBy("detected_lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pack_id = F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET)
    return (
        toks.withColumn("pack_id", pack_id)
        .groupBy("detected_lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_in_pack"),
        )
    )


# --- exact-k per-stratum sampling ------------------------------------------

SAMPLE_K = 25  # documents kept per language


@register(
    "pipeline_topk_per_lang_sample",
    oracle=f"""
WITH langd AS ({REGISTRY["text_lang_id"].oracle}),
ranked AS (
  SELECT doc_id, detected_lang,
         row_number() OVER (
           PARTITION BY detected_lang
           ORDER BY md5('reservoir:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM langd)
SELECT doc_id, detected_lang, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {SAMPLE_K}
""",
    doc=f"Exactly-k-per-stratum sampling (the distributed stand-in for "
    f"per-group reservoir sampling): rank documents per language by a "
    f"KEYED md5 of doc_id and keep the first {SAMPLE_K}. Uniform within "
    "stratum, deterministic across runs/engines, exact group sizes — one "
    "window per stratum, no RNG state, no driver involvement. At 100 TB "
    "the window's per-stratum sort is bounded by a pre-filter on the hash "
    "prefix (keep ~2k/|stratum| first), the standard top-k-by-hash trick.",
)
def pipeline_topk_per_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from thesis_iceberg_spark.queries.text import text_lang_id

    lang = text_lang_id(spark, sf_dir)
    h = F.md5(
        F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string")).cast("binary")
    )
    w = Window.partitionBy("detected_lang").orderBy(h, F.col("doc_id"))
    return (
        lang.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_K)
        .select("doc_id", "detected_lang", F.col("rk").cast("int").alias("rk"))
    )


DECON_THRESHOLD = 0.5  # containment of an eval doc's shingles in a train doc


@register(
    "pipeline_decontaminate",
    oracle=f"""
WITH {dedup._SQL_CAPPED_SH},
shs AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 100 < 90
              THEN 'train' ELSE 'eval' END AS split,
         s
  FROM sh),
ec AS (SELECT doc_id, COUNT(*) AS n FROM shs WHERE split = 'eval' GROUP BY doc_id),
overlap AS (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS c
  FROM shs t JOIN shs e ON t.s = e.s
  WHERE t.split = 'train' AND e.split = 'eval'
  GROUP BY 1, 2),
contam AS (
  SELECT o.train_doc,
         MAX(CAST(o.c AS DOUBLE) / ec.n) AS max_containment
  FROM overlap o JOIN ec ON ec.doc_id = o.eval_doc
  GROUP BY o.train_doc)
SELECT train_doc AS doc_id, max_containment
FROM contam WHERE max_containment >= {DECON_THRESHOLD}
""",
    doc="Train/eval DECONTAMINATION — the LLM-pipeline step the split "
    "alone cannot give you: using the same deterministic 90/10 hash split "
    "as pipeline_train_eval_split, flag every TRAIN document whose 3-token "
    "shingle set CONTAINS >= 50% of some eval document's shingles (n-gram "
    "containment, the standard eval-leak detector). Shingles in more than "
    "max(1000, 0.1% of corpus) documents are dropped first (broadcast "
    "anti-join, see dedup._capped_shingles): a boilerplate shingle is a "
    "hot join key with no containment signal, and eval shingle counts use "
    "the capped set so containment stays consistent. Spark shape: one "
    "shingle explode, the df-cap anti-join, an inverted-index equi-join "
    "on shingle between the train and eval sides (only docs sharing a "
    "kept shingle ever meet — never cartesian), a per-(train,eval) count "
    "and a max-per-train reduce. At 100 TB the eval side is tiny (10%... "
    "typically a fixed benchmark set), so the join broadcasts the eval "
    "shingle index.",
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_from_shingles(
        dedup._capped_shingles(docs, docs.count())
    )


def decontaminate_from_shingles(capped_sh: DataFrame) -> DataFrame:
    """Containment decontamination from an already-built capped shingle
    frame (doc_id, s) — extracted in r11 so pipeline_pretrain_corpus can
    share ONE shingle explode with the fuzzy-dedup stage."""
    bucket = _keyed_u32("split:") % 100
    split = F.when(bucket < 90, "train").otherwise("eval")
    # the split is a pure function of doc_id, so it can be (re)computed on
    # the exploded rows — no join back to documents needed
    sh = capped_sh.select("doc_id", split.alias("split"), "s")
    train = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    ev = sh.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_doc"), "s"
    )
    ec = ev.groupBy("eval_doc").agg(F.count("*").alias("n"))
    overlap = (
        train.join(ev, "s")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("c"))
    )
    return (
        overlap.join(ec, "eval_doc")
        .groupBy("train_doc")
        .agg(F.max(F.col("c").cast("double") / F.col("n")).alias("max_containment"))
        .filter(F.col("max_containment") >= DECON_THRESHOLD)
        .select(F.col("train_doc").alias("doc_id"), "max_containment")
    )


# ---------------------------------------------------------------------------
# Corpus-wide duplicate-paragraph removal (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — ExactSubstr at paragraph
# granularity, the practical large-scale variant): every paragraph that
# already occurred ANYWHERE in the corpus (first occurrence by (doc_id,
# position)) is dropped from later documents.  Like the Gopher/C4 line
# rules, the flat synthetic corpus gets deterministic 32-token paragraphs
# in BOTH engines for a value oracle; real text goes through
# dedup_paragraphs_df ('\n\n' splits).
# ---------------------------------------------------------------------------


def _dedup_paragraphs(docs: DataFrame, paras_col) -> DataFrame:
    """(doc_id, <paras array>) -> per-doc paragraph-dedup summary.

    Scale shape: paragraph TEXT never shuffles — each paragraph becomes a
    32-char md5 + its char length before the exchange; the canonical-
    occurrence pass is one window over the hash (uniform key, no skew,
    per-group size = duplicate count), then one groupBy(doc_id) back.
    cleaned_fingerprint = md5 of the kept paragraph hashes in position
    order proves the surviving text is reconstructable without emitting
    it."""
    from pyspark.sql.window import Window

    px = (
        docs.select("doc_id", F.posexplode(paras_col).alias("pos", "piece"))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("pos"),
            F.md5("piece").alias("h"),
            F.length("piece").alias("plen"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos"))
    r = px.withColumn("rn", rn)
    is_first = F.col("rn") == 1
    kept_h = F.when(is_first, F.struct("pos", "h"))
    agg = r.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.when(is_first, 1).otherwise(0)).alias("n_kept_paras"),
        # try_divide: a doc whose paragraphs are all empty strings sums
        # plen to 0 — NULL frac (DuckDB-parity), not ANSI DIVIDE_BY_ZERO
        F.try_divide(
            F.sum(F.when(is_first, F.col("plen")).otherwise(0)).cast("double"),
            F.sum("plen"),
        ).alias("kept_char_frac"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept_h)), lambda x: x["h"]),
                " ",
            )
        ).alias("cleaned_fingerprint"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept_paras", F.lit(0)).alias("n_kept_paras"),
            F.coalesce("kept_char_frac", F.lit(1.0)).alias("kept_char_frac"),
            F.coalesce("cleaned_fingerprint", F.md5(F.lit(""))).alias(
                "cleaned_fingerprint"
            ),
        )
    )


def dedup_paragraphs_df(docs: DataFrame) -> DataFrame:
    """Paragraph dedup over REAL text: paragraphs split on '\\n\\n',
    blank/whitespace pieces dropped."""
    paras = F.filter(
        F.transform(F.split(F.col("text"), r"\n\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    return _dedup_paragraphs(docs, paras)


def _sql_dedup_paras() -> str:
    from thesis_iceberg_spark.queries.text import (
        _PARA_TOKS,
        _sql_chunks,
        _sql_toks,
    )

    chunks = _sql_chunks(_sql_toks(), _PARA_TOKS)
    rng = "range(1, len(paras) + 1)"
    return f"""
WITH base AS (SELECT doc_id, {chunks} AS paras FROM documents),
px AS (SELECT doc_id,
              unnest(list_transform({rng}, i -> i)) AS pos,
              unnest(list_transform({rng}, i -> md5(paras[i]))) AS h,
              unnest(list_transform({rng}, i -> length(paras[i]))) AS plen
       FROM base),
r AS (SELECT doc_id, pos, h, plen,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM px),
agg AS (SELECT doc_id,
               COUNT(*) AS n_paras,
               SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept_paras,
               CAST(SUM(CASE WHEN rn = 1 THEN plen ELSE 0 END) AS DOUBLE)
                   / SUM(plen) AS kept_char_frac,
               md5(string_agg(CASE WHEN rn = 1 THEN h END, ' ' ORDER BY pos))
                   AS cleaned_fingerprint
        FROM r GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_paras, 0) AS BIGINT) AS n_paras,
       CAST(COALESCE(n_kept_paras, 0) AS BIGINT) AS n_kept_paras,
       COALESCE(kept_char_frac, 1.0) AS kept_char_frac,
       COALESCE(cleaned_fingerprint, md5('')) AS cleaned_fingerprint
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


@register(
    "pipeline_dedup_paragraphs",
    oracle=_sql_dedup_paras(),
    doc="Corpus-wide exact duplicate-paragraph removal (Lee et al. 2022 "
    "ExactSubstr at paragraph granularity): only the FIRST occurrence of "
    "each paragraph — ordered by (doc_id, position) — survives anywhere "
    "in the corpus. Registered entry derives deterministic 32-token "
    "paragraphs from the flat corpus in both engines; real text via "
    "dedup_paragraphs_df. Paragraph text never shuffles (md5 + length "
    "only); one uniform-key window + one doc_id groupBy.",
)
def pipeline_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.queries.text import _chunks, _PARA_TOKS, _toks
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    return _dedup_paragraphs(docs, _chunks(_toks(), _PARA_TOKS))


# --- token-budget corpus selection (histogram threshold, no global sort) ----

# Select the highest-quality documents whose cumulative token count fits a
# global budget (here half the corpus' token mass) — the data-mixing
# primitive behind "train on the best N tokens".  The naive form is a
# GLOBAL sort + running sum: one total-order exchange, then one task owns
# the running sum — the canonical 100 TB anti-pattern.  This
# implementation never globally sorts the corpus: it buckets the quality
# score into NB_QBUCKETS histogram bins, aggregates token mass per bin
# (ONE map-side-combined shuffle of <= NB_QBUCKETS rows per task), finds
# the budget-crossing bin on that tiny frame, and then only the docs of
# that ONE boundary bin (expected n/NB_QBUCKETS) are sorted to fill the
# remainder exactly.  The kept set is IDENTICAL to the global-sort
# semantics (the oracle is the window-cumsum form) because floor-bucketing
# is monotone in score: equal scores share a bin, so (bin DESC, score
# DESC, doc_id) is the global order.  Refine the boundary bin recursively
# (re-histogram inside it) if n/NB_QBUCKETS is still too large to sort.
NB_QBUCKETS = 64
BUDGET_FRAC = 0.5  # keep the best half of the corpus' token mass
BOUNDARY_SORT_CAP = 4_000_000  # rows one task may sort; above it, refine
MAX_REFINE_DEPTH = 16  # backstop for pathological distributions


def sql_token_budget_select(tokens_sql: str, out_cols: str) -> str:
    """Oracle builder for the prefix-rule budget selection: quality join
    + budget + window cumsum, parameterized by the token-mass CTE and
    the output projection — ONE source of the b/sel/cum<=budget rule
    for the registered word-count query AND the subword-denominated
    variant's test twin (review r13: the hand-copied fragment was the
    drift class _funnel_oracle was built to kill)."""
    return f"""
WITH q AS ({REGISTRY["text_quality_scores"].oracle}),
t AS ({tokens_sql}),
s AS (SELECT q.doc_id, q.quality_score, t.n_tokens
      FROM q JOIN t ON t.doc_id = q.doc_id
      WHERE q.quality_score IS NOT NULL),
b AS (SELECT CAST(floor(SUM(n_tokens) * {BUDGET_FRAC}) AS BIGINT) AS budget FROM s),
sel AS (SELECT doc_id, n_tokens, quality_score,
               SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM s)
SELECT {out_cols}
FROM sel, b WHERE sel.cum <= b.budget
"""


@register(
    "pipeline_token_budget_select",
    oracle=sql_token_budget_select(
        f"SELECT doc_id, len({text._sql_toks()}) AS n_tokens FROM documents",
        f"""sel.doc_id, CAST(sel.n_tokens AS BIGINT) AS n_tokens,
       CAST(least(floor(sel.quality_score * {NB_QBUCKETS}),
                  {NB_QBUCKETS - 1}) AS BIGINT) AS sel_bucket""",
    ),
    doc=f"Token-budget corpus selection: keep the best documents by "
    f"quality score until {BUDGET_FRAC:.0%} of the corpus' token mass is "
    "spent (prefix rule: a document is kept iff its running total under "
    "(score DESC, doc_id) order fits the budget). Spark shape is the "
    f"scale-safe two-phase threshold: a {NB_QBUCKETS}-bin score histogram "
    "(map-side-combined, <= 64 rows/task shuffled) locates the "
    "budget-crossing bin; all higher bins pass with a pure narrow filter "
    "(zero shuffle) and the boundary bin is refined ITERATIVELY "
    "(range-scaled sub-histograms, 64x smaller per level, driver-side "
    "metadata loop) until it fits BOUNDARY_SORT_CAP — only that bounded "
    "remainder is ever window-sorted, so no single task inherits n/64 "
    "of a 1e11-doc corpus. The oracle is the equivalent global window "
    "cumsum, so the driver verifies the two forms select IDENTICAL "
    "documents.",
)
def pipeline_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    return token_budget_select_df(load_table(spark, sf_dir, "documents"))


def token_budget_select_df(
    docs: DataFrame,
    budget_frac: float = BUDGET_FRAC,
    boundary_sort_cap: int = BOUNDARY_SORT_CAP,
    refine_depth_out: list | None = None,
    pre_scored: bool = False,
) -> DataFrame:
    """Histogram-threshold token-budget selection over any documents
    frame (doc_id, text) — see the registered query's doc for the
    algorithm and its equivalence to the global-sort prefix rule.

    ``pre_scored=True`` (r11, for pipeline_pretrain_corpus): ``docs``
    already carries (doc_id, quality_score, n_tokens) — skip the
    quality_frame text scan entirely, so a composition whose upstream
    stage computed the scores never re-reads text here.

    The budget-crossing bin is refined ITERATIVELY before anything is
    sorted: while the boundary subset exceeds ``boundary_sort_cap``
    rows, it is re-histogrammed into NB_QBUCKETS range-scaled sub-bins
    (by score while scores differ; by doc_id once the subset is one
    equal-score run — doc_id ASC is the tie-break order, so id-range
    bins inverted to the high-bin-first convention stay monotone), its
    fully-kept sub-bins join the output via a pure filter, and only the
    new (64x smaller) crossing sub-bin survives to the next level.  The
    final window sort therefore touches <= max(cap, n/64^depth) rows —
    never the n/64 single-task straggler the one-level form would hand
    a 1e11-doc corpus.  The loop is driver-side METADATA work (since
    r15: ONE <= 64-row collected per-bin aggregate per level over the
    shrinking checkpointed projection — it carries the token mass, the
    budget total, AND the boundary bin's refinement stats, replacing
    the three separate actions the pre-r15 form ran per level), the
    same shape as the table layer's file planning; a MAX_REFINE_DEPTH
    cap bounds pathological distributions, falling back to sorting
    whatever remains (correct, just slower).

    Diagnostics: pass ``refine_depth_out=[]`` and the call appends the
    refinement depth it used (call-local, safe under concurrency)."""
    from pyspark.sql.window import Window

    from thesis_iceberg_spark.queries.binning import range_bin
    from thesis_iceberg_spark.queries.text import quality_frame

    # ONE documents scan: quality_frame carries score AND n_tokens (no
    # self-join of two scans on doc_id — see text.quality_frame), and the
    # narrow 4-column scored projection is checkpointed ONCE so the
    # histogram pass and the selection branches below all read the
    # materialized projection instead of re-scanning the text corpus
    # (eager, like dedup_minhash_lsh_pairs — at production scale this is
    # persist(DISK) or a staging table of ~32 bytes/doc, not the corpus).
    scored = (
        (docs if pre_scored else quality_frame(docs))
        .filter(F.col("quality_score").isNotNull())
        .select(
            "doc_id",
            "quality_score",
            "n_tokens",
            F.least(
                F.floor(F.col("quality_score") * NB_QBUCKETS),
                F.lit(NB_QBUCKETS - 1).cast("bigint"),
            ).alias("sel_bucket"),
        )
        .localCheckpoint(eager=True)
    )
    out_cols = [
        F.col("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("sel_bucket"),
    ]
    empty = scored.filter(F.lit(False)).select(*out_cols)

    def _note_depth(d: int) -> None:
        if refine_depth_out is not None:
            refine_depth_out.append(d)

    def hist_stats(df, bucket_col):
        """Per-bin stats as a COLLECTED list of <= NB_QBUCKETS rows,
        descending by bin: (b, btok, cnt, smin, smax, imin, imax).  r15
        optimization round (guide §1.2/§5): the threshold walk, the
        total-mass budget, and the boundary bin's refinement stats
        (count / score range / id range) are all derivable from this ONE
        map-side-combined aggregate, so each level now costs a single
        Spark job where the pre-r15 form ran three (a corpus-sum action,
        a 64-row window+agg action, and a separate boundary-bin stats
        action).  Driver-bounded by construction — <= 64 rows per level,
        <= MAX_REFINE_DEPTH levels — the same bounded-collect contract
        as the quantile refinement's <= 64-row histograms
        (sketch._rank_values)."""
        rows = (
            df.groupBy(bucket_col.alias("b"))
            .agg(
                F.sum("n_tokens").alias("btok"),
                F.count("*").alias("cnt"),
                F.min("quality_score").alias("smin"),
                F.max("quality_score").alias("smax"),
                F.min("doc_id").alias("imin"),
                F.max("doc_id").alias("imax"),
            )
            .collect()
        )
        return sorted(rows, key=lambda r: -r["b"])

    def threshold_stats(rows, offset: int, budget: int):
        """(full_min, b_star_row, b_offset) for the high-bin-first
        cumulative token mass, against the ABSOLUTE budget given mass
        ``offset`` already spent above — the identical rules as the
        pre-r15 window form, walked in Python over the collected bins.
        <=, not <, in the boundary rule: a bin whose cum_before lands
        EXACTLY on the budget must still be the boundary bin so
        zero-token docs at its head (cum == budget) survive like the
        oracle's cum <= budget rule keeps them (review r10; unreachable
        with the current tokenizer, robust for composers).  At most ONE
        boundary bin: the budget sits in exactly one bin's
        [cum_before, cum_through) interval, and zero-mass bins can never
        satisfy cum_through > budget >= cum_before.  Bins whose btok is
        NULL (all-NULL n_tokens — unreachable: every producer computes
        n_tokens from size()/count) contribute no mass, mirroring SQL
        SUM's NULL-skipping in the replaced window."""
        cum = offset
        full_min = None
        b_star = None
        b_offset = None
        for r in rows:  # descending bin order
            mass = r["btok"] or 0
            cum_before = cum
            cum += mass
            if cum <= budget:
                full_min = r["b"]  # descending walk -> ends at the MIN
            if cum_before <= budget < cum:
                b_star = r
                b_offset = cum_before
        return full_min, b_star, b_offset

    parts = []
    bins = hist_stats(scored, F.col("sel_bucket"))
    total = sum(r["btok"] for r in bins if r["btok"] is not None)
    if not bins or all(r["btok"] is None for r in bins):  # empty corpus
        _note_depth(0)
        return empty
    # identical arithmetic to the replaced F.floor(SUM * frac) action:
    # exact bigint total (sum of per-bin exact sums), one IEEE multiply
    import math

    budget = int(math.floor(total * budget_frac))

    full_min, b_star, b_offset = threshold_stats(bins, 0, budget)
    if full_min is not None:
        parts.append(scored.filter(F.col("sel_bucket") >= int(full_min)))
    if b_star is None:
        _note_depth(0)
        return parts[0].select(*out_cols) if parts else empty

    boundary_df = scored.filter(F.col("sel_bucket") == int(b_star["b"]))
    offset = int(b_offset)
    depth = 0
    while depth < MAX_REFINE_DEPTH:
        m = b_star  # the boundary bin's own stats ride the hist collect
        if m["cnt"] <= boundary_sort_cap:
            break
        if m["smin"] < m["smax"]:
            # range-scaled score bins (canonical clamped map + its
            # monotonicity contract: binning.range_bin): equal scores
            # share a bin — (bin DESC, score DESC, doc_id) remains the
            # global order within the subset
            sub = range_bin(
                F.col("quality_score"),
                m["smin"],
                m["smax"] - m["smin"],
                NB_QBUCKETS,
            )
        elif m["imin"] < m["imax"]:
            # one equal-score run: the residual order is doc_id ASC, so
            # id-range bins INVERTED (lower id -> higher bin) keep the
            # high-bin-first accumulation convention
            sub = F.lit(NB_QBUCKETS - 1).cast("bigint") - range_bin(
                F.col("doc_id"),
                m["imin"],
                m["imax"] - m["imin"],
                NB_QBUCKETS,
            )
        else:  # cnt == 1 can't exceed any cap >= 1; defensive
            break
        sub_bins = hist_stats(boundary_df, sub)
        s_full_min, b_star, s_offset = threshold_stats(sub_bins, offset, budget)
        if s_full_min is not None:
            parts.append(boundary_df.filter(sub >= int(s_full_min)))
        if b_star is None:
            boundary_df = None
            break
        # re-checkpoint the surviving crossing sub-bin (64x smaller per
        # level) so the NEXT level's aggregates scan the shrunken subset,
        # not the full projection through a deepening filter chain
        # (review r10 — without this, depth-d refinement re-reads all n
        # rows d times and the "shrinking" claim is false)
        boundary_df = boundary_df.filter(
            sub == int(b_star["b"])
        ).localCheckpoint(eager=True)
        offset = int(s_offset)
        depth += 1
    _note_depth(depth)

    if boundary_df is not None:
        # the final sort: <= max(cap, n/64^depth) rows in one window task
        w_bin = Window.orderBy(
            F.col("quality_score").desc(), F.col("doc_id")
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        parts.append(
            boundary_df.withColumn(
                "cum", F.lit(offset) + F.sum("n_tokens").over(w_bin)
            ).filter(F.col("cum") <= budget)
        )

    if not parts:  # defensive: every level must produce a crossing bin,
        return empty  # but an empty union must not crash if one doesn't
    out = parts[0].select(*out_cols)
    for p in parts[1:]:
        out = out.unionByName(p.select(*out_cols))
    return out


# --- target-mixture resampling (DoReMi-style domain reweighting) -----------

# Rebalance the corpus toward a TARGET domain mixture over token mass:
# source srcN gets target share w_N = (N+1)/210 (the deterministic stand-in
# for a tuned DoReMi/"data mixing" weight vector; sources that don't parse
# as srcN — or aren't in the target — get share 0 and drop out).  The
# largest achievable budget under the target is T = min_g tokens_g / w_g
# (the binding source is kept whole); every other source down-samples to
# keep_frac_g = w_g * T / tokens_g with KEYED-md5 membership, so the kept
# set is a pure function of doc_id — stable across runs and engines, the
# same contract as pipeline_stratified_sample but with DATA-DEPENDENT
# fractions computed from the corpus and the target instead of hardcoded
# rates.  Scale shape: one narrow (doc_id, source, n_tokens) projection
# (checkpointed), one tiny per-source aggregate, a one-row min broadcast
# back, then one more map-side-combined aggregate — no corpus-keyed
# shuffle anywhere.
MIX_WEIGHT_DENOM = 210.0  # sum of (N+1) over src0..src19


@register(
    "pipeline_mixture_resample",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, len({text._sql_toks()}) AS n_tokens,
         CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) / 4294967296.0 AS u
  FROM documents),
g AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
         CASE WHEN TRY_CAST(substr(source, 4) AS INT) BETWEEN 0 AND 19
              THEN (TRY_CAST(substr(source, 4) AS INT) + 1) / {MIX_WEIGHT_DENOM}
              ELSE NULL END AS w
  FROM t GROUP BY source),
tm AS (SELECT MIN(tokens_total / w) AS t_max FROM g WHERE w IS NOT NULL),
gf AS (SELECT g.source, g.n_docs, g.tokens_total,
              coalesce((g.w * tm.t_max) / g.tokens_total, 0.0) AS keep_frac
       FROM g, tm),
k AS (
  SELECT t.source,
         COUNT(*) FILTER (t.u < gf.keep_frac) AS n_kept,
         CAST(coalesce(SUM(t.n_tokens) FILTER (t.u < gf.keep_frac), 0)
              AS BIGINT) AS tokens_kept
  FROM t JOIN gf ON gf.source = t.source GROUP BY t.source)
SELECT gf.source, gf.n_docs, gf.tokens_total, gf.keep_frac,
       k.n_kept, k.tokens_kept
FROM gf JOIN k ON k.source = gf.source
""",
    doc="Target-mixture resampling (DoReMi-style domain reweighting): "
    "source srcN gets target share (N+1)/210 of the output token mass; "
    "T = min_g(tokens_g / share_g) is the largest budget every target "
    "source can supply (the binding source keeps everything), and each "
    "source down-samples to share_g*T/tokens_g with keyed-md5 membership "
    "— data-dependent fractions from corpus + target, not hardcoded "
    "rates. One narrow projection, one per-source aggregate, a one-row "
    "min broadcast back, one more map-side-combined aggregate: no "
    "corpus-keyed shuffle. All fractions are exact IEEE arithmetic from "
    "integer token masses, so the per-source keep counts value-match "
    "the oracle exactly.",
)
def pipeline_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from thesis_iceberg_spark.sources.registry import load_table

    return mixture_resample_df(load_table(spark, sf_dir, "documents"))


def mixture_keep_fracs(t: DataFrame) -> DataFrame:
    """(source, n_docs, tokens_total, keep_frac) from a narrow (source,
    n_tokens) frame — the DoReMi budget arithmetic, extracted in r11 so
    pipeline_pretrain_corpus and mixture_resample_df share ONE
    implementation (twin copies of T = min_g(tokens_g/w_g) would drift).
    One tiny per-source aggregate + a one-row min broadcast back."""
    # share only for the target sources src0..src19: an out-of-range or
    # negative N (e.g. a composer's 'src-1' or 'src25') must drop out with
    # share NULL->0, not poison T with a zero or negative weight (review
    # r10 — w=0 would divide-by-zero the ratio, w<0 would drive
    # t_max negative and silently zero every source's keep_frac)
    srcn = F.substring("source", 4, 16).try_cast("int")
    w = F.when(
        srcn.between(0, 19), (srcn + F.lit(1)) / F.lit(MIX_WEIGHT_DENOM)
    )
    g = t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
    ).withColumn("w", w)
    tm = g.filter(F.col("w").isNotNull()).agg(
        F.min(F.col("tokens_total") / F.col("w")).alias("t_max")
    )
    return g.crossJoin(F.broadcast(tm)).select(
        "source",
        "n_docs",
        "tokens_total",
        F.coalesce(
            (F.col("w") * F.col("t_max")) / F.col("tokens_total"), F.lit(0.0)
        ).alias("keep_frac"),
    )


def mixture_resample_df(docs: DataFrame) -> DataFrame:
    """Per-source mixture summary over any documents frame (doc_id,
    source, text) — see the registered query's doc for semantics."""
    from thesis_iceberg_spark.queries.text import _toks_of

    n_tokens = F.size(_toks_of(F.col("text")))
    u = _keyed_u32("mix:") / F.lit(4294967296.0)
    # narrow 4-column projection, materialized once: the per-source
    # aggregate and the kept-mass aggregate below both read ~40 B/doc
    # instead of re-scanning the text corpus (same pattern as
    # pipeline_token_budget_select)
    t = docs.select(
        "doc_id", "source", n_tokens.alias("n_tokens"), u.alias("u")
    ).localCheckpoint(eager=True)
    gf = mixture_keep_fracs(t)
    kept = F.col("u") < F.col("keep_frac")
    k = (
        t.join(F.broadcast(gf.select("source", "keep_frac")), "source")
        .groupBy("source")
        .agg(
            F.count_if(kept).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )
    return gf.join(k, "source").select(
        "source", "n_docs", "tokens_total", "keep_frac", "n_kept", "tokens_kept"
    )


# --- the end-to-end pre-training corpus composition (r11, VERDICT r10 #6) ---
#
# Every stage below is an individually driver-oracled operator; this query
# chains them in the order a production pre-training pipeline runs them —
#
#   PII scrub -> garbage/mojibake gate (r12) / quality / Gopher-lexical /
#   C4-badwords / language gates -> train split -> exact dedup
#   -> fuzzy dedup (Jaccard candidates VERIFIED by banded
#   byte-Levenshtein, r12) -> decontamination -> token-budget selection
#   -> mixture resampling -> sequence packing
#
# — and the DuckDB oracle is composed from the SAME registered oracle
# fragments over a `documents` CTE that shadows the base view with the
# PII-scrubbed text (DuckDB resolves the inner `main.documents` to the
# real view and every fragment's bare `documents` to the shadow), so the
# composition can never drift from the operators it composes.
#
# TEXT-SCAN AUDIT (the plan property a 100 TB run lives or dies by; the
# pytest gate is tests/test_pretrain_corpus.py):
#   * raw text is scanned exactly TWICE — pass A fuses scrub + garbage
#     flags + quality + language + Gopher-lexical + C4 + fingerprint +
#     token count + the staged normalized text into ONE projection chain
#     (the keep_cols threading exists for exactly this), and pass B is
#     the shared 16-byte-hashed shingle explode that feeds BOTH fuzzy
#     dedup and decontamination (one explode, two consumers, the
#     dedup._capped_shingles cap bounding the hot keys);
#   * the edit-distance verification of candidate pairs reads its texts
#     from pass A's checkpoint (norm_text), never a third parquet scan;
#   * nothing downstream touches text: the token-budget stage runs on
#     pass A's (quality_score, n_tokens) via pre_scored=True, mixture and
#     packing on (source, n_tokens).
# Victim sets (exact-dup canonicals, Jaccard doc_b, contaminated docs)
# are computed over the FULL scrubbed corpus, not the gated subset — the
# same convention pipeline_clean_corpus established (a duplicate is a
# duplicate whether or not its canonical survives the quality gates).
# The line-shaped Gopher rules (text_gopher_line_flags) are explode-
# shaped and deliberately not in the fused chain; adding them costs one
# more narrow pass + doc_id join, the documented extension point.

_PRETRAIN_SCRUB_SQL = (
    f"regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'), "
    f"'{_PHONE_RE}', '[PHONE]', 'g')"
)

# Edit-distance verification threshold for the composition's fuzzy-dedup
# stage (r12, VERDICT r11 #3): a Jaccard candidate pair only claims its
# victim if the SEQUENCE-aware byte-Levenshtein similarity confirms it —
# Jaccard is order-blind (a sentence-shuffled copy shares every shingle),
# so the r11 composition dropped docs on set overlap alone.  0.95 is
# measured against the driver corpus: real near-dup pairs sit at
# 0.97-0.99, the one reordered-heavy pair at 0.937 (rescued), and no pair
# lands within ±0.01 of the cut (no float knife edge).  The kernel runs
# BANDED (cap ~ 0.05 * doc bytes), so verification cost is
# O(cap * len) per pair, not O(len^2).
PRETRAIN_EDIT_SIM_MIN = 0.95

# Gopher-lexical gate, composition tuning: the published rule demands >= 2
# of the paper's 8 English stop words, but the synthetic corpus maxes out
# at ONE stop-word hit per document — the published constant empties the
# whole pipeline (measured: gated = 0 at every SF), and an always-empty
# composition oracle proves nothing.  The composition keeps the published
# alpha-fraction and symbol-ratio arms at their paper values and relaxes
# only min-stop-hits to 1, reusing the registered fragment's COLUMNS so
# the three thresholds stay visible in one place.
PRETRAIN_MIN_STOP_HITS = 1

# Trained-classifier gate (r13, VERDICT r12 #2): real pipelines gate on a
# classifier score, not heuristics alone (CCNet Wenzek et al. 2019; GPT-3
# Brown et al. 2020 App. A) — the composition now requires the hashed
# linear classifier's exact-integer score to favor the positive (en)
# class.  Threshold 0 = "predicted positive", the text_hashed_classifier
# pred convention; the fit runs over the FULL scrubbed corpus (the same
# full-corpus convention the victim sets use) and BOTH fit and score
# read the pass-A staged norm_text, so raw text stays at exactly two
# scans (splitting the collapsed norm_text on single spaces reproduces
# _lm_ftoks' tokens — tests/test_pretrain_corpus.py pins the gate delta
# and the registered classifier's oracle fragment covers the arithmetic).
PRETRAIN_HC_SCORE_MIN = 0


def _pretrain_oracle() -> str:
    # imported for its registration side effect: the composed oracle
    # reads REGISTRY["text_hashed_classifier"], and a standalone
    # `import pipeline_q` (tests do this) must not depend on _load_all
    # having imported classify first (r13 — the fragment dependencies on
    # text.py were already covered by the direct imports below)
    from thesis_iceberg_spark.queries import bpe, classify  # noqa: F401
    from thesis_iceberg_spark.queries.text import (
        GOPHER_MIN_ALPHA_WORD_FRAC,
        GOPHER_MAX_SYMBOL_WORD_RATIO,
        sql_garbage_flags,
    )

    return f"""
WITH documents AS (
  SELECT doc_id, lang, source, n_chars, {_PRETRAIN_SCRUB_SQL} AS text
  FROM main.documents),
garb AS ({sql_garbage_flags("text")} FROM documents),
q AS ({REGISTRY["text_quality_scores"].oracle}),
l AS ({REGISTRY["text_lang_id"].oracle}),
glex AS ({REGISTRY["text_gopher_lexical_flags"].oracle}),
c4 AS ({REGISTRY["text_c4_badwords_flags"].oracle}),
hc AS ({REGISTRY["text_hashed_classifier"].oracle}),
fp AS ({REGISTRY["text_fingerprint"].oracle}),
ev AS ({REGISTRY["dedup_edit_verified_pairs"].oracle}),
dec AS ({REGISTRY["pipeline_decontaminate"].oracle}),
toks AS (SELECT doc_id, n_subwords AS n_tokens
         FROM ({REGISTRY["text_bpe_encode"].oracle})),
canon AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical
          FROM fp),
gated AS (
  SELECT d.doc_id, d.source, q.quality_score, t.n_tokens
  FROM documents d
  JOIN garb USING (doc_id)
  JOIN q USING (doc_id)
  JOIN l USING (doc_id)
  JOIN glex USING (doc_id)
  JOIN c4 USING (doc_id)
  JOIN hc USING (doc_id)
  JOIN canon USING (doc_id)
  JOIN toks t USING (doc_id)
  WHERE garb.keep
    AND hc.score > {PRETRAIN_HC_SCORE_MIN}
    AND q.quality_score >= {QUALITY_MIN}
    AND l.detected_lang = 'en'
    AND glex.alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}
    AND glex.symbol_word_ratio <= {GOPHER_MAX_SYMBOL_WORD_RATIO}
    AND glex.n_stop_hits >= {PRETRAIN_MIN_STOP_HITS}
    AND c4.keep
    AND CAST('0x' || substr(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) % 100 < 90
    AND d.doc_id = canon.canonical
    AND d.doc_id NOT IN (SELECT doc_b FROM ev
                         WHERE edit_sim >= {PRETRAIN_EDIT_SIM_MIN})
    AND d.doc_id NOT IN (SELECT doc_id FROM dec)),
budget AS (SELECT CAST(floor(SUM(n_tokens) * {BUDGET_FRAC}) AS BIGINT) AS b
           FROM gated),
sel AS (
  SELECT doc_id, source, n_tokens FROM (
    SELECT g.*, SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
    FROM gated g), budget
  WHERE cum <= b),
mix_g AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
         CASE WHEN TRY_CAST(substr(source, 4) AS INT) BETWEEN 0 AND 19
              THEN (TRY_CAST(substr(source, 4) AS INT) + 1) / {MIX_WEIGHT_DENOM}
              ELSE NULL END AS w
  FROM sel GROUP BY source),
tm AS (SELECT MIN(tokens_total / w) AS t_max FROM mix_g WHERE w IS NOT NULL),
gf AS (SELECT mix_g.source,
              coalesce((mix_g.w * tm.t_max) / mix_g.tokens_total, 0.0) AS keep_frac
       FROM mix_g, tm),
mixed AS (
  SELECT s.doc_id, s.source, s.n_tokens
  FROM sel s JOIN gf USING (source)
  WHERE CAST('0x' || substr(md5('mix:' || CAST(s.doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) / 4294967296.0 < gf.keep_frac)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {PACK_BUDGET}) AS BIGINT) AS pack_id
FROM mixed
"""


@register(
    "pipeline_pretrain_corpus",
    oracle=_pretrain_oracle(),
    doc="END-TO-END pre-training corpus composition: PII scrub -> garbage/"
    "mojibake gate (r12) + TRAINED-classifier gate (r13 — the hashed "
    "linear classifier's exact-integer score must favor the positive "
    "class, fit and scored from the pass-A staged norm_text so raw text "
    "stays at two scans; CCNet/GPT-3 gate on a classifier, not "
    "heuristics alone) + quality + Gopher-lexical + C4-badwords + "
    "language gates -> 90% train split -> exact dedup (fingerprint "
    "canonical) -> fuzzy dedup = n-gram-Jaccard candidates VERIFIED by "
    "banded byte-Levenshtein (r12 — order-blind set overlap alone no "
    "longer drops a doc) -> shingle-containment decontamination -> 50% "
    "token-budget selection by quality, DENOMINATED IN BPE SUBWORD "
    "TOKENS (r14, VERDICT r13 #2 — the budget, the DoReMi mixture "
    "shares, and the 512-token pack boundaries all spend the tokens a "
    "model actually trains on: n_tokens := n_subwords under the frozen "
    "merge list, the registered text_bpe_encode fragment slotting into "
    "the composed oracle verbatim) -> mixture resampling -> sequence "
    "packing; one row per surviving document with its pack assignment. "
    "Every stage is an individually driver-oracled operator and the "
    "oracle is composed from their oracle fragments over a PII-scrubbed "
    "shadow CTE, so composition drift is impossible. Scale shape: raw "
    "text scanned exactly twice (fused per-doc feature projection "
    "carrying the garbage flags and the staged normalized text; shared "
    "16-byte-hashed shingle explode feeding dedup AND decontamination); "
    "the subword encode reads the survivors' staged norm_text from the "
    "pass-A checkpoint (never the parquet) and fuses BEFORE the gated "
    "checkpoint, so the expensive candidate-pair joins still execute "
    "exactly once.",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from thesis_iceberg_spark.queries.bpe import BPE_MERGES, bpe_encode_df
    from thesis_iceberg_spark.queries.classify import (
        hashed_classifier_score_expr,
        hashed_classifier_weights,
    )
    from thesis_iceberg_spark.queries.dedup import (
        _capped_shingles,
        _norm,
        edit_verify_pairs,
        ngram_jaccard_pairs_from_shingles,
    )
    from thesis_iceberg_spark.queries.text import (
        GOPHER_MAX_SYMBOL_WORD_RATIO,
        GOPHER_MIN_ALPHA_WORD_FRAC,
        c4_badwords_flags_df,
        fingerprint_expr,
        garbage_flags_df,
        gopher_lexical_flags_df,
        lang_id_df,
        quality_frame,
    )
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    staged = docs.select("doc_id", "source", "lang", scrub.alias("text"))
    # ---- pass A: ONE fused projection chain = one raw text scan --------
    # the garbage/mojibake gate rides the same fused projection (r12,
    # VERDICT r11 #3 — decode damage is the FIRST thing a real crawl
    # pipeline filters, and it must read the text upstream of the fold,
    # which pass A does by construction); no damage is injected here —
    # the registered query's synthetic tail exists only because the
    # driver corpus is clean, and the shared sql_garbage_flags fragment
    # keeps the two consumers drift-impossible
    gflags = garbage_flags_df(staged, keep_cols=("source", "lang", "text")).select(
        "doc_id", "source", "lang", "text", F.col("keep").alias("garbage_keep")
    )
    feats = (
        c4_badwords_flags_df(
            gopher_lexical_flags_df(
                lang_id_df(
                    quality_frame(
                        gflags,
                        keep_cols=("source", "lang", "text", "garbage_keep"),
                    ),
                    keep_cols=(
                        "source",
                        "lang",
                        "text",
                        "garbage_keep",
                        "n_tokens",
                        "quality_score",
                    ),
                ),
                keep_cols=(
                    "source",
                    "lang",
                    "text",
                    "garbage_keep",
                    "n_tokens",
                    "quality_score",
                    "detected_lang",
                ),
            ).withColumn(
                # composition gate (PRETRAIN_MIN_STOP_HITS doc above): the
                # paper's alpha/symbol arms + the relaxed stop-hits arm
                "gopher_keep",
                (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
                & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_WORD_RATIO)
                & (F.col("n_stop_hits") >= PRETRAIN_MIN_STOP_HITS),
            ),
            keep_cols=(
                "source",
                "lang",
                "text",
                "garbage_keep",
                "n_tokens",
                "quality_score",
                "detected_lang",
                "gopher_keep",
            ),
        )
        .withColumnRenamed("keep", "c4_keep")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            "quality_score",
            "detected_lang",
            "garbage_keep",
            "gopher_keep",
            "c4_keep",
            fingerprint_expr().alias("fingerprint"),
            # normalized text, staged for the edit-distance verification
            # join below — computing it here keeps raw text at exactly
            # two scans (the verify stage reads THIS checkpoint for the
            # handful of docs in candidate pairs, never the parquet); it
            # is the one text-sized column in the checkpoint, the same
            # space-vs-reread call as the shingle staging, and at 100 TB
            # feats becomes a columnar staging table so the narrow
            # consumers never deserialize it
            _norm().alias("norm_text"),
        )
        .localCheckpoint(eager=True)
    )
    n = feats.count()
    # ---- pass B: the shared shingle explode = the second text scan -----
    # _capped_shingles stages the exploded rows once (eager checkpoint
    # inside) so BOTH consumers read the materialization instead of
    # re-running the explode (two more raw text scans).  hash_keys=True
    # (r12, VERDICT r11 #6) stages a 16-byte md5 per shingle instead of
    # the raw trigram string — the joins only need equality and the
    # oracle compares final pairs, not intermediate keys.  MEASURED at
    # sf0.1 (tests/exp_shingle_stage_bytes.py): 26.0 vs 26.6 MB staged,
    # only -2.3% — 3-token shingles are already ~16 bytes, so the
    # per-row storage constant dominates; the lever would pay on longer
    # keys (5-gram shingles, URLs).  The REAL staging win this round:
    # r11 double-checkpointed here (an outer localCheckpoint re-staged
    # _capped_shingles' already-eager checkpoint — 2x the bytes and an
    # extra materialization pass for zero benefit); r12 stages once.
    # At 100 TB: persist(DISK_ONLY) / a staging table instead.
    sh = _capped_shingles(staged, n, hash_keys=True)
    # fuzzy dedup, now VERIFIED (r12, VERDICT r11 #3): Jaccard candidates
    # are order-blind, so each pair must pass the sequence-aware banded
    # byte-Levenshtein check before its doc_b is dropped; texts come from
    # the pass-A checkpoint, not a third raw scan
    cand_pairs = ngram_jaccard_pairs_from_shingles(sh).select("doc_a", "doc_b")
    fuzzy_victims = edit_verify_pairs(
        cand_pairs,
        feats.select("doc_id", F.col("norm_text").alias("t")),
        min_sim=PRETRAIN_EDIT_SIM_MIN,
    ).select(F.col("doc_b").alias("doc_id"))
    contaminated = decontaminate_from_shingles(sh).select("doc_id")
    # ---- trained-classifier gate (r13, VERDICT r12 #2) -----------------
    # fit AND score read the pass-A staged norm_text (splitting the
    # collapsed text on single spaces == _lm_ftoks over the scrubbed
    # text, so the registered classifier's oracle fragment covers both);
    # the fit is over the FULL scrubbed corpus — the same convention as
    # the victim sets — and costs one explode over the checkpoint plus
    # the 64-key map-side-combined shuffle; the score is a zero-shuffle
    # HOF against the broadcast one-row weight array, referenced exactly
    # once (in the gate conjunction) per the SPARK-35410 discipline
    hc_toks = F.filter(
        F.split(F.coalesce(F.col("norm_text"), F.lit("")), " "),
        lambda t: t != F.lit(""),
    )
    hc_w = hashed_classifier_weights(feats, toks_col=hc_toks)
    # ---- gates + dedup + decontamination (all narrow from here on) -----
    canon = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    gated_txt = (
        feats.crossJoin(F.broadcast(hc_w))
        .withColumn("canonical", canon)
        .filter(
            F.col("garbage_keep")
            & (hashed_classifier_score_expr(hc_toks) > PRETRAIN_HC_SCORE_MIN)
            & (F.col("quality_score") >= QUALITY_MIN)
            & (F.col("detected_lang") == "en")
            & F.col("gopher_keep")
            & F.col("c4_keep")
            & (_keyed_u32("split:") % 100 < 90)
            & (F.col("doc_id") == F.col("canonical"))
        )
        .join(fuzzy_victims, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        # the survivors' staged norm_text rides into the encode below —
        # NOT a raw text scan (it reads the pass-A checkpoint), the same
        # move as the classifier gate
        .select("doc_id", "source", "quality_score", F.col("norm_text").alias("text"))
    )
    # ---- subword re-denomination (r14, VERDICT r13 #2) ------------------
    # everything the pipeline spends from here on — the token budget, the
    # mixture shares, the pack boundaries — is denominated in BPE SUBWORD
    # tokens (what a model actually trains on), not whitespace words:
    # n_tokens := n_subwords under the frozen merge list.  Encoding
    # norm_text equals encoding the scrubbed raw text (the BPE tokenizer
    # folds/lowers/splits first, and norm IS that fold — the classifier-
    # gate equivalence), so the registered text_bpe_encode oracle
    # fragment slots into the composed oracle verbatim.  The encode is
    # fused BEFORE the checkpoint, so the expensive gate lineage (Jaccard
    # self-join, containment join) still executes exactly once.
    gated = (
        bpe_encode_df(
            gated_txt, list(BPE_MERGES), keep_cols=("source", "quality_score")
        )
        .select(
            "doc_id",
            "source",
            "quality_score",
            F.col("n_subwords").cast("bigint").alias("n_tokens"),
        )
        # checkpoint: the gated lineage embeds the two expensive joins
        # (Jaccard shingle self-join, decontamination containment join) —
        # without this they re-execute for token_budget's internal
        # checkpoint AND each of the two consumers of `kept` below
        # (review r11: the dominant O(candidate-pairs) work ran 3x)
        .localCheckpoint(eager=True)
    )
    # ---- token-budget selection on the pre-scored frame (no text) ------
    sel = token_budget_select_df(gated, pre_scored=True).select(
        "doc_id", "n_tokens"
    )
    kept = sel.join(gated.select("doc_id", "source"), "doc_id")
    # ---- mixture resampling (shared budget arithmetic) ------------------
    gf = mixture_keep_fracs(kept)
    u = _keyed_u32("mix:") / F.lit(4294967296.0)
    mixed = (
        kept.withColumn("u", u)
        .join(F.broadcast(gf.select("source", "keep_frac")), "source")
        .filter(F.col("u") < F.col("keep_frac"))
        .select("doc_id", "source", "n_tokens")
    )
    # ---- sequence packing (pipeline_pack_sequences rule, keyed by source)
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pack_id = F.floor(
        (F.sum("n_tokens").over(wp) - F.col("n_tokens")) / PACK_BUDGET
    )
    return mixed.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        pack_id.cast("bigint").alias("pack_id"),
    )



def token_budget_select_subword_df(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget selection counting REAL SUBWORD tokens (r13 — the
    VERDICT r12 #2 follow-on: with the BPE encoder in the tree, the
    budget stage can spend a budget denominated in the tokens a model
    would actually train on, not whitespace words).  Same prefix rule
    and two-phase histogram threshold as the registered
    pipeline_token_budget_select; only the token-mass column changes —
    n_tokens := n_subwords from the frozen-merge BPE encoder.

    Shape: ONE quality text scan (quality_frame) + ONE encode text scan
    (the Arrow kernel) joined on doc_id; at 100 TB the encode output is
    a write-time column (tokenization is always materialized in real
    pipelines), making this a single-scan stage like the pre_scored
    composition path.  df-level (r13 cap met); r14 registration
    candidate — the pytest carries the composed DuckDB twin.
    """
    from thesis_iceberg_spark.queries.bpe import BPE_MERGES, bpe_encode_df
    from thesis_iceberg_spark.queries.text import quality_frame
    from thesis_iceberg_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    q = quality_frame(docs).select("doc_id", "quality_score")
    enc = bpe_encode_df(docs, list(BPE_MERGES)).select(
        "doc_id", F.col("n_subwords").cast("bigint").alias("n_tokens")
    )
    frame = (
        q.filter(F.col("quality_score").isNotNull())
        .join(enc, "doc_id")
        .select("doc_id", "quality_score", "n_tokens")
    )
    return token_budget_select_df(frame, pre_scored=True).select(
        "doc_id", "n_tokens"
    )


# --- weighted (priority) sampling (r13, df-level) ---------------------------
#
# The sampling family had per-stratum rates (pipeline_stratified_sample)
# and exact-k per stratum (pipeline_topk_per_lang_sample); the third
# classic is WEIGHT-proportional sampling — "pick k documents with
# probability ~ token count" (training-data mixing and eval-set
# construction both want it).  The scalable form is PRIORITY SAMPLING
# (Duffield/Lund/Thorup; bottom-k of u/w): priority = uniform(doc) / w,
# keep the k smallest.  Determinism: u is the keyed md5_u32 draw and
# u/w is ONE IEEE division of exact integers — exactly rounded, so both
# engines compute the identical double and the identical bottom-k (ties
# broken by doc_id; no summation, no libm).  Spark shape: narrow map +
# TakeOrderedAndProject — no global sort ever materializes.

WS_K = 50  # sample size of the df-level default


def weighted_sample_df(
    docs_with_weight: DataFrame, k: int = WS_K, key: str = "wsample:"
) -> DataFrame:
    """Bottom-k priority sample over (doc_id, w): every row with w > 0
    competes with priority u/w (u = keyed md5 of doc_id) — inclusion
    probability rises with w.  Returns (doc_id, w, priority)."""
    u = _keyed_u32(key)
    pr = u.cast("double") / F.col("w")
    # doc_id IS NOT NULL: a NULL key draws a NULL priority, which Spark's
    # ascending sort puts FIRST while DuckDB puts LAST — excluding
    # NULL-keyed rows keeps the twins identical AND the sample
    # meaningful (review r13 #4)
    return (
        docs_with_weight.filter(
            (F.col("w") > 0) & F.col("doc_id").isNotNull()
        )
        .select("doc_id", "w", pr.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(k)
    )


def pipeline_weighted_sample_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count-weighted document sample: w = whitespace token count
    from the shared quality frame (one text scan).  r14 registration
    candidate; sql_weighted_sample() is the ready oracle builder."""
    from thesis_iceberg_spark.queries.text import quality_frame
    from thesis_iceberg_spark.sources.registry import load_table

    q = quality_frame(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("w")
    )
    return weighted_sample_df(q, WS_K)


# --- deterministic shard shuffle (r14, df-level) ----------------------------
#
# The LAST step of every training-data pipeline: shuffle the corpus and
# write it as K shards whose within-shard order is fixed, so any
# dataloader replays the identical sequence.  RNG-shuffled writers are
# engine- and run-private; this form is a pure function of doc_id — the
# keyed md5 draw gives shard_id = draw % K and the within-shard order
# (draw, doc_id) — so two engines (and two runs) produce the IDENTICAL
# shard layout, and the whole operator carries a full value oracle.
#
# Scale shape: the oracle's naive form is one row_number window per
# shard = one task per shard = corpus/K rows in a single task — the
# n/64-straggler shape the quantile registration just had to shed.  The
# Spark side therefore computes the DENSE position two-phase: bucket
# each row by the draw's high bits (monotone in the sort order, so
# buckets are order-contiguous), count (shard x bucket) cells in one
# map-side-combined aggregate (<= K*B rows), turn counts into bucket
# START OFFSETS with a window over that tiny frame, broadcast-join the
# offsets back, and row_number only within (shard, bucket) — each
# window task owns corpus/(K*B) rows, and B scales with the corpus (or
# nests, token_budget-style) where K is fixed by the output layout.

SHARD_N = 8  # driver-scale shard count; production picks
# corpus_bytes / target_shard_bytes — K is an OUTPUT layout choice
SHARD_POS_BUCKETS = 64  # per-shard order-contiguous position buckets


def shard_shuffle_df(
    docs: DataFrame,
    n_shards: int = SHARD_N,
    key: str = "shard:",
    n_buckets: int = SHARD_POS_BUCKETS,
) -> DataFrame:
    """(doc_id, shard_id, shard_pos): deterministic shuffle-shard
    assignment with a DENSE 1-based within-shard position (see module
    comment for the two-phase construction that keeps every window task
    at corpus/(K*B) rows)."""
    from pyspark.sql.window import Window

    u = _keyed_u32(key)
    shift = 2**32 // n_buckets  # draw in [0, 2^32): bucket = draw div shift
    # bucket = draw div shift: monotone in draw, so buckets are
    # contiguous runs of the (draw, doc_id) sort order and equal draws
    # always share a bucket — the dense positions compose exactly.
    # Checkpointed (r14 review #2): counts/offsets AND the join probe
    # side both read d — unstaged, the corpus scan + md5 pass would
    # execute twice.
    d = (
        docs.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            u.alias("draw"),
            (u % n_shards).alias("shard_id"),
            F.floor(u / F.lit(shift)).cast("bigint").alias("bucket"),
        )
        .localCheckpoint(eager=True)
    )
    counts = d.groupBy("shard_id", "bucket").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy("shard_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard_id",
        "bucket",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
    )
    w_pos = Window.partitionBy("shard_id", "bucket").orderBy("draw", "doc_id")
    return (
        d.join(F.broadcast(offsets), ["shard_id", "bucket"])
        .select(
            "doc_id",
            "shard_id",
            (F.col("off") + F.row_number().over(w_pos))
            .cast("bigint")
            .alias("shard_pos"),
        )
    )


def pipeline_shard_shuffle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard shuffle over the documents corpus — REGISTERED r15 as
    pipeline_shard_shuffle with the sql_shard_shuffle() naive twin."""
    from thesis_iceberg_spark.sources.registry import load_table

    return shard_shuffle_df(load_table(spark, sf_dir, "documents"))


def sql_shard_shuffle(n_shards: int = SHARD_N, key: str = "shard:") -> str:
    """DuckDB twin of pipeline_shard_shuffle_df: the NAIVE one-window-
    per-shard form — the driver check proves the two-phase bucketed
    construction selects the identical dense positions.  Key embedded as
    a SQL literal (quotes doubled, the _enc_sql rule)."""
    key_sql = key.replace("'", "''")
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('{key_sql}' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS draw
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id, draw % {n_shards} AS shard_id,
       CAST(row_number() OVER (PARTITION BY draw % {n_shards}
                               ORDER BY draw, doc_id) AS BIGINT) AS shard_pos
FROM d
"""


@register(
    "pipeline_shard_shuffle",
    oracle=sql_shard_shuffle(),
    doc="Deterministic training-shard shuffle (registered r15 from the "
    "r14 queue, VERDICT r14 #1): (doc_id, shard_id, shard_pos) with a "
    "DENSE 1-based replayable within-shard order — shard and order are "
    "pure functions of doc_id via the keyed md5 draw, so two engines/"
    "runs produce the IDENTICAL layout where RNG-shuffled writers never "
    "do. Scale shape: dense positions built TWO-PHASE (order-contiguous "
    "draw buckets -> one <=K*B-row count agg -> offsets window over the "
    "tiny frame -> row_number only within (shard, bucket)) so no task "
    "owns corpus/K rows; the naive one-window-per-shard form is the "
    "ORACLE, not the plan.",
)
def pipeline_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline_shard_shuffle_df(spark, sf_dir)


def sql_weighted_sample(k: int = WS_K, key: str = "wsample:") -> str:
    """DuckDB twin of pipeline_weighted_sample_df: same keyed draw, same
    single-division priority, same (priority, doc_id) bottom-k.  The
    weight CTE reuses the registered text_token_stats oracle so the two
    engines count tokens through ONE fragment.  The key is embedded as a
    SQL literal, so quotes are doubled (the bpe._enc_sql escaping rule;
    review r13 #4)."""
    key_sql = key.replace("'", "''")
    toks = REGISTRY["text_token_stats"].oracle
    return f"""
WITH t AS ({toks}),
w AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS w FROM t
      WHERE n_tokens > 0 AND doc_id IS NOT NULL),
p AS (SELECT doc_id, w,
             CAST(CAST('0x' || substr(md5('{key_sql}' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS DOUBLE) / w AS priority
      FROM w)
SELECT doc_id, w, priority
FROM p ORDER BY priority, doc_id LIMIT {k}
"""
