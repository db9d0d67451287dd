"""Text-analysis operators over the ``documents`` table (engine [ext]).

Token counting, quality scoring, and per-language stats — all as built-in
column expressions (no Python UDFs in the hot path), so they stay inside
whole-stage codegen and scale linearly with no shuffle except the final
aggregate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import fixture_version, load_table, session_memo

_STOPWORDS = ("the", "a", "of", "and", "to")


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token statistics: whitespace tokenization via split —
    the baseline token counter of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " +")).cast("long")
    return (
        d.withColumn("n_tokens", toks)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(F.col("n_chars") / F.col("n_tokens")), 4).alias("avg_chars_per_token"),
        )
    )


ORACLE_TOKEN_STATS = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(CAST(n_chars AS DOUBLE) / n_tokens), 4) AS avg_chars_per_token
FROM (
  SELECT lang, n_chars,
         CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens
  FROM documents
)
GROUP BY lang
"""


def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio, and a composite score — the length/stopword heuristics
    of C4-style quality filtering, as pure column expressions."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " +")
    n_tokens = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    mean_tok_len = (F.length("text") - (n_tokens - 1)) / n_tokens
    stop_ratio = n_stop / n_tokens
    return d.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * (1.0 - stop_ratio), 4
        ).alias("quality_score"),
    )


ORACLE_QUALITY = """
SELECT doc_id, lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round((length(text) - (n_tokens - 1)) / n_tokens, 4) AS mean_token_len,
       round(n_stop / n_tokens, 4) AS stopword_ratio,
       round(least(1.0, n_tokens / 100.0) * (1.0 - n_stop / n_tokens), 4) AS quality_score
FROM (
  SELECT doc_id, lang, text,
         CAST(len(string_split_regex(text, ' +')) AS DOUBLE) AS n_tokens,
         CAST(len(list_filter(string_split_regex(text, ' +'),
                              t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) AS n_stop
  FROM documents
)
"""


_LANG_WORDS = {
    "de": ("der", "die", "und", "das", "ein"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "zh": ("de", "shi", "bu", "le", "zai"),
}
_LANG_ORDER = tuple(sorted(_LANG_WORDS))  # deterministic argmax tie-break


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-overlap language ID: score = count of tokens in each
    language's marker list; argmax with alphabetical tie-break — the
    n-gram heuristic of fasttext-style lang-id in its cheapest
    deterministic form.

    Plan shape: explode tokens → broadcast inner join against the tiny
    (word, lang) marker dim → pivot-count per doc → left join back so
    zero-match docs keep all-zero scores. Fully codegen'd; the earlier
    higher-order `filter(toks, isin)` per language was interpreted
    per-token and ~4× slower."""
    d = load_table(spark, sf_dir, "documents")
    marker_rows = [
        (w, lang) for lang in _LANG_ORDER for w in _LANG_WORDS[lang]
    ]
    dim = spark.createDataFrame(marker_rows, "tok string, mlang string")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " +")).alias("tok")
    )
    counts = (
        toks.join(F.broadcast(dim), "tok")
        .groupBy("doc_id")
        .pivot("mlang", list(_LANG_ORDER))
        .count()
    )
    joined = d.select("doc_id", "lang").join(counts, "doc_id", "left")
    scores = {
        lang: F.coalesce(F.col(lang), F.lit(0)).cast("long") for lang in _LANG_ORDER
    }
    pred = F.lit(None).cast("string")
    # reversed CASE chain: earliest lang in _LANG_ORDER wins ties
    for lang in reversed(_LANG_ORDER):
        cond = None
        for other in _LANG_ORDER:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return joined.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_ORDER],
        pred.alias("predicted_lang"),
    )


def _lang_scores_sql() -> str:
    parts = [
        f"CAST(len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in _LANG_WORDS[lang])}))) AS BIGINT) AS score_{lang}"
        for lang in _LANG_ORDER
    ]
    return ", ".join(parts)


def _lang_case_sql() -> str:
    whens = []
    for lang in _LANG_ORDER:
        conds = " AND ".join(
            f"score_{lang} >= score_{o}" for o in _LANG_ORDER if o != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " END"


ORACLE_LANG_ID = f"""
SELECT doc_id, lang,
       score_de, score_en, score_es, score_fr, score_zh,
       {_lang_case_sql()} AS predicted_lang
FROM (
  SELECT doc_id, lang, {_lang_scores_sql()}
  FROM (SELECT doc_id, lang, string_split_regex(lower(text), ' +') AS toks FROM documents)
)
"""


_FP_MOD = 1_000_000_007


def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the audit that turns the lang-id
    heuristic from a black box into a measured classifier: per (true
    label, predicted) cell, the doc count and the share of the true
    label's mass (row-normalized recall diagonal). The model-eval step
    every corpus-level language filter needs before its threshold is
    trusted; composes the registered q_doc_lang_id verbatim so the
    matrix audits EXACTLY the predictions the filter would act on.
    One extra hash aggregate + a broadcast row-total join over the
    per-doc prediction frame."""
    pred = q_doc_lang_id(spark, sf_dir).select("doc_id", "lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    row_tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("row_n"))
    return (
        cells.join(F.broadcast(row_tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("row_n"), 4).alias("row_share"),
        )
    )


ORACLE_LANG_CONFUSION = (
    "WITH pred AS (" + ORACLE_LANG_ID + """),
cells AS (
  SELECT lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
),
row_tot AS (SELECT lang, sum(n_docs) AS row_n FROM cells GROUP BY 1)
SELECT c.lang, c.predicted_lang,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       round(c.n_docs / CAST(r.row_n AS DOUBLE), 4) AS row_share
FROM cells c JOIN row_tot r ON r.lang = c.lang
"""
)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rolling polynomial fingerprint over characters:
    fp = fold(31·acc + codepoint) mod 1e9+7 — deterministic, portable,
    cheap content identity when cryptographic strength isn't needed.

    Computed as a vectorized Horner sum in a pandas UDF:
    fp ≡ Σ code_i·31^(n-1-i) (mod p) with the power table shared across
    the Arrow batch — the expression-level fold (aggregate over a
    per-char array) is interpreted per character and ~10× slower; terms
    stay < 2⁶³ because code·31^k mod p < 2⁴⁰."""

    @pandas_udf("long")
    def fp_udf(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype="Int64")
        max_len = max((len(t) for t in texts if t is not None), default=1)
        pows = np.ones(max(max_len, 1), dtype=np.int64)
        for i in range(1, max_len):
            pows[i] = (pows[i - 1] * 31) % _FP_MOD
        out: list = []
        for t in texts:
            if t is None:  # NULL in → NULL out (matches the SQL fold)
                out.append(None)
            elif not t:
                out.append(0)
            else:
                codes = np.fromiter(map(ord, t), dtype=np.int64, count=len(t))
                out.append(int((codes * pows[len(t) - 1 :: -1] % _FP_MOD).sum() % _FP_MOD))
        return pd.Series(out, dtype="Int64")

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", fp_udf(F.col("text")).alias("fingerprint"), F.length("text").alias("n_chars_text")
    )


ORACLE_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                          c -> ascii(c)::BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS fingerprint,
       length(text) AS n_chars_text
FROM documents
"""


def q_doc_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting: words vs punctuation runs — the
    pre-tokenizer split of GPT-style BPE as a counting query."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z0-9]+"), 0))
        .cast("long")
        .alias("n_word_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
        .cast("long")
        .alias("n_punct_tokens"),
    )


ORACLE_TOKEN_REGEX = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct_tokens
FROM documents
"""


def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF as pure relational algebra — no ML-pipeline fitting step:

        tf(d,t)  = occurrences of t in d (explode + groupBy)
        df(t)    = documents containing t (distinct + groupBy)
        idf(t)   = ln((N+1)/(df+1)) + 1   (smoothed)
        top-3 terms per doc by tf·idf (window, term tie-break)

    Scale shape: two hash aggregations over the exploded token stream
    (both map-side partial), df(t) joined back on `term` (shuffle
    hash-join that AQE downgrades to broadcast when df(t) fits — no
    forced broadcast of an unbounded vocabulary), N as a 1-row
    aggregate cross-joined into the plan (no separate driver-side
    count() scan), and a per-doc top-k window partitioned by doc_id —
    no global sort. Lower-cased tokens, alphabetic only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    # N as a 1-row aggregate folded into the plan: one job, no second
    # full scan of the corpus before the main query runs.
    n_docs_df = d.agg(F.count("*").cast("double").alias("n_docs"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
toks_f AS (SELECT doc_id, term FROM toks WHERE term <> ''),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_f GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks_f) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
"""


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    ratio and top-token fraction — the repetition filters a training-data
    pipeline applies after the length/stopword heuristics. One explode +
    two hash aggregations, both map-side partial; no window."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " +")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.count("*") / F.sum("c"), 4).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_token_fraction"),
    )


ORACLE_REPETITION = """
WITH tf AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok FROM documents)
  GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS distinct_ratio,
       round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_token_fraction
FROM tf
GROUP BY doc_id
"""


_SAMPLE_FRACS = {"en": 0.5, "de": 0.3, "es": 0.3, "fr": 0.3, "zh": 0.2}
# Two Lehmer/MINSTD steps: h = ((id mod m)·a mod m)·a mod m with
# m = 2³¹−1, a = 48271. Intermediates ≤ m·a ≈ 1.04e14 — comfortably
# inside int64 for ANY 64-bit id, unlike a raw Knuth multiply which
# overflows at id≈3.5e9. Two steps matter: after one step a small
# sequential id maps to id·a/m ≈ id·2.2e-5, so every id below ~10⁴ would
# fall under any realistic keep fraction (the "sample" would keep
# everything); the second multiply wraps mod m and is uniform.
_LEHMER_A = 48271
_LEHMER_M = (1 << 31) - 1


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — per-language keep fractions
    for training-mix curation. The keep decision is a two-step Lehmer
    (MINSTD) hash of the doc id: portable int64-safe integer arithmetic
    the oracle reproduces exactly (unlike rand() or engine-specific
    hashes), so the sample is stable across runs, engines, and
    partitionings; the plan is a pure scan filter with no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    u1 = (F.col("doc_id") % F.lit(_LEHMER_M)) * F.lit(_LEHMER_A) % F.lit(_LEHMER_M)
    u = (u1 * F.lit(_LEHMER_A) % F.lit(_LEHMER_M)) / F.lit(float(_LEHMER_M))
    frac = F.lit(None).cast("double")
    for lang, p in sorted(_SAMPLE_FRACS.items()):
        frac = F.when(F.col("lang") == lang, F.lit(p)).otherwise(frac)
    return (
        d.filter(u < F.coalesce(frac, F.lit(0.0)))
        .select("doc_id", "lang", F.round(u, 6).alias("sample_u"))
    )


_FRAC_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {p}" for lang, p in sorted(_SAMPLE_FRACS.items())
)
_U_SQL = (
    f"((((doc_id % {_LEHMER_M}) * {_LEHMER_A}) % {_LEHMER_M})"
    f" * {_LEHMER_A} % {_LEHMER_M}) / {_LEHMER_M}.0"
)
ORACLE_STRATIFIED = f"""
SELECT doc_id, lang,
       round({_U_SQL}, 6) AS sample_u
FROM documents
WHERE {_U_SQL} < coalesce(CASE {_FRAC_CASE} END, 0.0)
"""


CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context chunking as a Python UDTF (SURVEY §2.2 UDTF surface —
    the engine's user-extensible one-row-in/many-rows-out operator, the
    PL/pgSQL unnest function's modern analogue): overlapping token
    windows of 32 tokens at stride 24 per document, emitted via a
    LATERAL join. UDTFs are the flexible path; for this specific op the
    pure-expression equivalent (sequence + transform + explode) would be
    faster — the query exists to keep the UDTF machinery covered."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int", useArrow=True)
    class ChunkWindows:
        def eval(self, text: str):
            import re as _re

            toks = _re.split(" +", text or "")
            for i, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
                window = toks[start : start + CHUNK_SIZE]
                yield i, " ".join(window), len(window)

    spark.udtf.register("chunk_windows", ChunkWindows)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_for_chunks")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM __docs_for_chunks d, LATERAL chunk_windows(d.text) c
        """
    )


ORACLE_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
),
starts AS (
  SELECT doc_id, t,
         unnest(range(0, greatest(1, CAST(ceil(len(t) / {CHUNK_STRIDE}.0) AS INT)))) AS i
  FROM toks
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(t[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS INT) AS n_tokens,
       array_to_string(t[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk_text
FROM starts
"""


# --- sequence packing (training-batch assembly) -----------------------------

PACK_CTX = 2048  # context-window token budget
PACK_SHARDS = 8  # independent packer shards — the scale knob


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-boundary sequence packing — the concat-and-chunk batch
    assembly used to build training examples: documents are laid end to
    end in deterministic (shard, doc_id) order and cut every PACK_CTX
    tokens; each doc reports the pack it starts in and its offset.

    Scale shape: a GLOBAL running sum would serialize on one partition,
    so docs are first split into PACK_SHARDS deterministic shards
    (doc_id mod — any stable key works) and each shard packs
    independently: the window's cumulative sum runs per shard, giving
    shard-count-way parallelism at any corpus size (raise PACK_SHARDS
    with the cluster; packs are only ever addressed as (shard,
    pack_id)). This trades exactly one partial pack of waste per shard
    for linear scalability — the standard distributed-packing design."""
    d = load_table(spark, sf_dir, "documents")
    n = F.coalesce(
        F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+")), F.lit(0)
    ).cast("long")
    base = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        n.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = base.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / PACK_CTX).alias("pack_id"),
        (F.col("cum_before") % PACK_CTX).alias("pack_offset"),
    )


ORACLE_PACK = f"""
WITH base AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z0-9]+')), 0) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM base
)
SELECT doc_id, shard, n_tokens, cum_before,
       cum_before // {PACK_CTX} AS pack_id,
       cum_before % {PACK_CTX} AS pack_offset
FROM c
"""


# --- PII scrubbing ----------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
_PII_IDNUM = "[0-9]{9,}"


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents — emails, IPv4 addresses and long
    id-like digit runs are counted and replaced with typed placeholder
    tokens, the standard scrub step before training-data release.

    The fixture corpus carries no PII, so the query PLANTS a
    deterministic contact line per doc (both engines synthesize the
    identical text) — making every counter and the scrubbed-text hash a
    real differential check, not a vacuous zero. Patterns stick to the
    regex subset with identical semantics in Java regex and RE2 (no
    backrefs, no lookaround, bracketed literal dots). Pure expressions:
    count + three regexp_replace passes, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ref 9"),
        F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"), _PII_IPV4, "<IP>"
        ),
        _PII_IDNUM,
        "<ID>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(planted, F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(planted, F.lit(_PII_IDNUM)).cast("long").alias("n_idnums"),
        F.sha2(scrub, 256).alias("scrubbed_sha"),
    )


ORACLE_PII = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 9'
              || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{_PII_IDNUM}')) AS BIGINT) AS n_idnums,
       sha256(regexp_replace(regexp_replace(regexp_replace(
           t, '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_IPV4}', '<IP>', 'g'),
           '{_PII_IDNUM}', '<ID>', 'g')) AS scrubbed_sha
FROM planted
"""


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality proxy: per-doc mean bigram log-probability
    under a corpus-trained bigram model — the KenLM-perplexity-filter
    shape of a curation pipeline (here self-trained on the corpus;
    production points the count tables at a trusted reference corpus).
    Low mean log-prob = surprising text (gibberish, boilerplate soup,
    wrong-language fragments).

    One explode of the token stream feeds three aggregations —
    C(w1,w2), C(w1), and the per-doc average — all equi-joins on token
    hashes; the count tables are |vocab|-sized (AQE broadcasts when they
    fit, shuffle-joins when a real vocabulary doesn't). No Python in
    the plan.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    bigrams = (
        tok.filter(F.size(t) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        # join/shuffle on 8-byte hashes, never the token strings (the
        # doc_ngram_jaccard trick; collision odds ~1e-9 at vocab scale)
        .select(
            "doc_id",
            F.xxhash64("bg.w1", "bg.w2").alias("h12"),
            F.xxhash64("bg.w1").alias("h1"),
        )
    )
    c_bg = bigrams.groupBy("h12").agg(F.count("*").alias("c12"))
    c_w1 = bigrams.groupBy("h1").agg(F.count("*").alias("c1"))
    scored = (
        bigrams.join(c_bg, "h12")
        .join(c_w1, "h1")
        .withColumn("ll", F.log(F.col("c12") / F.col("c1")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("ll"), 4).alias("avg_logprob"),
        )
    )


ORACLE_BIGRAM_LL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 2
),
bigrams AS (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM toks)
),
c_bg AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2),
c_w1 AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY 1)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(CAST(c12 AS DOUBLE) / c1)), 4) AS avg_logprob
FROM bigrams b
JOIN c_bg USING (w1, w2)
JOIN c_w1 USING (w1)
GROUP BY b.doc_id
"""


_PMI_MIN_COUNT = 5
_PMI_TOP_K = 50


def q_doc_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by pointwise mutual information
    (min count 5) — the phrase-detection pass (word2vec-style "new_york"
    merging) of a text pipeline. PMI = ln(c12·N / (c1·c2)) with
    bigram-position marginals so probabilities sum to 1.

    Plan: ONE explode of the corpus into one (w1,w2) count aggregate;
    both marginals and the corpus total derive from that (vocab²-sized)
    count table, never from a second pass over the data — the total is a
    1-row aggregate cross-joined into the plan (never a driver-side
    count — the TF-IDF lesson). Top-k is TakeOrderedAndProject. The
    rank key is the raw ratio, not ln(ratio): pure IEEE multiply/divide
    is bit-identical across engines while libm ln is not, so ordering
    ties resolve identically everywhere."""
    d = load_table(spark, sf_dir, "documents")
    # spread rows before the explode (a small parquet file scans as one
    # partition); sized to the cluster, same rationale as dedup.py
    tok = d.select(F.split(F.col("text"), " +").alias("t")).repartition(
        spark.sparkContext.defaultParallelism
    )
    t = F.col("t")
    bigrams = tok.filter(F.size(t) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # pin the count table: four consumers (marginals, total, main) must
    # never be able to re-run the corpus explode if exchange reuse does
    # not fire (AQE re-planning) — the lazy checkpoint enforces what the
    # docstring promises
    c_bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)
    )
    c_1 = c_bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c_2 = c_bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n = c_bg.agg(F.sum("c12").alias("n"))
    ratio = (F.col("c12").cast("double") * F.col("n")) / (
        F.col("c1").cast("double") * F.col("c2")
    )
    return (
        c_bg.filter(F.col("c12") >= _PMI_MIN_COUNT)
        .join(c_1, "w1")
        .join(c_2, "w2")
        .crossJoin(F.broadcast(n))
        .withColumn("_r", ratio)
        .orderBy(F.desc("_r"), F.asc("w1"), F.asc("w2"))
        .limit(_PMI_TOP_K)
        .select("w1", "w2", "c12", F.round(F.log("_r"), 4).alias("pmi"))
    )


ORACLE_PMI = f"""
WITH toks AS (
  SELECT string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 2
),
bigrams AS (
  SELECT t[i + 1] AS w1, t[i + 2] AS w2
  FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM toks)
),
c_bg AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2),
c_1 AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY 1),
c_2 AS (SELECT w2, count(*) AS c2 FROM bigrams GROUP BY 1),
n AS (SELECT count(*) AS n FROM bigrams)
SELECT w1, w2, c12,
       round(ln((CAST(c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * c2)), 4) AS pmi
FROM c_bg JOIN c_1 USING (w1) JOIN c_2 USING (w2), n
WHERE c12 >= {_PMI_MIN_COUNT}
ORDER BY (CAST(c12 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * c2) DESC, w1 ASC, w2 ASC
LIMIT {_PMI_TOP_K}
"""


_HIST_BUCKETS = 12
_HIST_LO, _HIST_HI = 2.0, 9.0  # ln(n_chars) range covered by the buckets


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-scale document-length histogram per source (width_bucket over
    ln(n_chars)) — the length-distribution audit run before choosing
    packing/chunking parameters. Pure scan + small-key aggregate; the
    bucket id is a closed-form expression, so the histogram needs no
    sort and no global pass (contrast equi-depth histograms, which are
    the percentile query's job)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.width_bucket(
        F.log(F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))),
        F.lit(_HIST_LO),
        F.lit(_HIST_HI),
        F.lit(_HIST_BUCKETS),
    )
    return (
        d.groupBy("source", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# DuckDB has no width_bucket; mirror the PostgreSQL formula Spark
# implements: floor((v-lo) / ((hi-lo)/nb)) + 1, clamped to 0 / nb+1
_WB_SQL = (
    f"CASE WHEN x < {_HIST_LO} THEN 0 "
    f"WHEN x >= {_HIST_HI} THEN {_HIST_BUCKETS + 1} "
    f"ELSE CAST(floor((x - {_HIST_LO}) / "
    f"(({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})) AS BIGINT) + 1 END"
)
ORACLE_LENGTH_HIST = f"""
WITH v AS (
  SELECT source, n_chars,
         ln(greatest(CAST(n_chars AS DOUBLE), 1.0)) AS x
  FROM documents
)
SELECT source,
       {_WB_SQL} AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM v
GROUP BY 1, 2
"""


def q_doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency)
    on ln(rank) via the SQL-standard ``regr_slope`` / ``regr_intercept``
    / ``regr_r2`` aggregates — the distribution sanity check (natural
    text slopes near −1; synthetic or templated corpora deviate hard).

    Distributed linear regression as ONE aggregate: the corpus collapses
    to vocab-sized (token, freq) rows, the rank window runs over the
    vocabulary (freq desc, token asc tie-break — deterministic), and the
    regr_* family reduces map-side like any other aggregate. Output
    rounded to 6; nothing ranks on the regression outputs, so
    aggregation-order fp noise is absorbed by the rounding. Honest
    bound: the global rank is a single-task sort over |vocab| rows —
    fine through ~10⁸ types; a web-scale open vocabulary would swap in
    a two-pass rank (per-partition sort + offset by partition counts)."""
    d = load_table(spark, sf_dir, "documents")
    freqs = (
        d.select(F.explode(F.split(F.col("text"), " +")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    from pyspark.sql import Window

    ranked = freqs.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("tok")))
    )
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.round(F.expr("regr_slope(ln(freq), ln(rank))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(freq), ln(rank))"), 6).alias(
            "zipf_intercept"
        ),
        F.round(F.expr("regr_r2(ln(freq), ln(rank))"), 6).alias("zipf_r2"),
    )


ORACLE_ZIPF = """
WITH freqs AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY 1
),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
  FROM freqs
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq) AS BIGINT) AS n_tokens,
       round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(freq), ln(rank)), 6) AS zipf_intercept,
       round(regr_r2(ln(freq), ln(rank)), 6) AS zipf_r2
FROM ranked
"""


def q_doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: type/token ratio and the hapax-
    legomena share (types occurring exactly once / all types) — template
    or boilerplate-heavy sources show low hapax ratios, natural prose
    high ones; a standard corpus-diversity audit.

    Two chained aggregates, both shuffling only (source, token-hash) /
    (source) keys: per-(source, token) counts (map-side partial first),
    then the per-source rollup — the raw text never reaches the second
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok_counts = (
        d.select("source", F.explode(F.split(F.col("text"), " +")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return tok_counts.groupBy("source").agg(
        F.count("*").alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.round(F.count("*") / F.sum("c"), 6).alias("type_token_ratio"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")) / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


ORACLE_HAPAX = """
WITH tc AS (
  SELECT source, tok, count(*) AS c
  FROM (SELECT source, unnest(string_split_regex(text, ' +')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio
FROM tc
GROUP BY 1
"""


_BPE_STEPS = 3


def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first 3 merge steps: the
    corpus-scale half of byte-pair encoding — count adjacent symbol
    pairs weighted by word frequency, merge the most frequent pair
    everywhere, recount — as pure DataFrame ops (no Python in the loop).

    The symbol sequence is a delimited string (' a  b  c ', every symbol
    space-wrapped), so applying a merge is a literal string replace:
    ' x  y ' → ' xy '. Both engines' replace() scans left-to-right
    without rescanning replaced output, which IS greedy BPE pairing
    ('aaaa' + merge a+a → two 'aa' symbols, not three overlapping), so
    the unrolled DuckDB oracle reproduces the merge table exactly; ties
    rank lexicographically on the pair. Scale shape per step: pair
    counting is explode + map-side-partial agg over the DISTINCT-word
    table (vocabulary-sized, ≪ corpus — the corpus is touched once to
    build it); the winning pair is a 1-row broadcast cross join; merge
    application is a scan projection. The fixed step count keeps the
    dataflow identical across engines (convergence looping lives in
    dedup_clusters)."""
    _, bests = _bpe_train(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select(
        "rk", "x", "y", F.concat("x", "y").alias("merged"), "pair_count"
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training core: returns (final word table with merged
    symbol sequences, list of per-step best-pair DataFrames). Consumed
    by the merge-table query and the encoder so the learned merges and
    their application cannot drift apart; memoized per session and
    documents version, so a gate run trains once, not twice."""
    return session_memo(
        spark,
        ("bpe_train", sf_dir, fixture_version(sf_dir, "documents")),
        lambda: _bpe_train_impl(spark, sf_dir),
    )


def _bpe_train_impl(spark: SparkSession, sf_dir: str):
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.col("text"), " +")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    cur = words.select(
        "w", "f", F.regexp_replace("w", "(.)", " $1 ").alias("seq")
    ).localCheckpoint(eager=False)
    bests = []
    for step in range(1, _BPE_STEPS + 1):
        arr = F.split(F.trim(F.col("seq")), "  ")
        n = F.size(arr)
        pairs = (
            cur.select(
                "f",
                F.explode(
                    F.arrays_zip(
                        F.slice(arr, 1, n - 1).alias("x"),
                        F.slice(arr, 2, n - 1).alias("y"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("f").alias("pair_count"))
        )
        best = (
            pairs.orderBy(F.desc("pair_count"), "x", "y")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        bests.append(best.select(F.lit(step).alias("rk"), "x", "y", "pair_count"))
        pat = F.concat(F.lit(" "), F.col("x"), F.lit("  "), F.col("y"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("x"), F.col("y"), F.lit(" "))
        cur = (
            cur.crossJoin(F.broadcast(best.select("x", "y")))
            .select("w", "f", F.replace(F.col("seq"), pat, rep).alias("seq"))
            .localCheckpoint(eager=False)
        )
    return cur, bests


def q_doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of BPE: apply the learned merge table to every
    document and report its token count, character symbol count,
    post-merge symbol count, and the compression ratio the 3 merges buy
    — the metric a tokenizer-training pipeline tracks per corpus slice.

    Application is a broadcast join of the corpus token stream against
    the (vocabulary-sized) word → merged-sequence table from the shared
    training core; symbols-per-word is a size(split) projection, and
    the per-doc rollup is one map-side-partial aggregate. The oracle
    replays the identical unrolled merge CTEs, so the learned merges
    and their application verify together end-to-end."""
    encoded, _bests = _bpe_train(spark, sf_dir)
    vocab = encoded.select(
        "w", F.size(F.split(F.trim(F.col("seq")), "  ")).alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " +")).alias("w")
    )
    return (
        toks.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.length("w")).alias("n_char_symbols"),
            F.sum("n_sym").alias("n_bpe_symbols"),
            F.round(F.sum(F.length("w")) / F.sum("n_sym"), 4).alias(
                "compression"
            ),
        )
    )


def _bpe_iter_sql(k: int) -> str:
    return f"""
pairs{k} AS (
  SELECT p[1] AS x, p[2] AS y, sum(f) AS pair_count FROM (
    SELECT f, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
    FROM (SELECT f, string_split(trim(seq{k - 1}), '  ') AS l FROM seq{k - 1})
  ) GROUP BY 1, 2
),
best{k} AS (
  SELECT x, y, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, x, y LIMIT 1
),
seq{k} AS (
  SELECT w, f,
         replace(seq{k - 1}, ' ' || x || '  ' || y || ' ',
                 ' ' || x || y || ' ') AS seq{k}
  FROM seq{k - 1} CROSS JOIN best{k}
)"""


ORACLE_BPE = f"""
WITH words AS (
  SELECT tok AS w, count(*) AS f
  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
  GROUP BY 1
),
seq0 AS (
  SELECT w, f, regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq0 FROM words
),
{",".join(_bpe_iter_sql(k) for k in range(1, _BPE_STEPS + 1))}
{" UNION ALL ".join(
    f"SELECT {k} AS rk, x, y, x || y AS merged, CAST(pair_count AS BIGINT) AS pair_count FROM best{k}"
    for k in range(1, _BPE_STEPS + 1)
)}
"""


ORACLE_BPE_ENCODE = f"""
WITH words AS (
  SELECT tok AS w, count(*) AS f
  FROM (SELECT unnest(string_split_regex(text, ' +')) AS tok FROM documents)
  GROUP BY 1
),
seq0 AS (
  SELECT w, f, regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq0 FROM words
),
{",".join(_bpe_iter_sql(k) for k in range(1, _BPE_STEPS + 1))},
vocab AS (
  SELECT w, len(string_split(trim(seq{_BPE_STEPS}), '  ')) AS n_sym
  FROM seq{_BPE_STEPS}
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w FROM documents
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(length(w)) AS BIGINT) AS n_char_symbols,
       CAST(sum(n_sym) AS BIGINT) AS n_bpe_symbols,
       round(sum(length(w)) / CAST(sum(n_sym) AS DOUBLE), 4) AS compression
FROM toks JOIN vocab USING (w)
GROUP BY 1
"""


_DUP_N = 3  # n-gram width for the duplicate-coverage signal


def q_doc_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate n-gram coverage: per document, the fraction
    of tokens covered by at least one trigram that occurs ≥2× WITHIN the
    document — the "fraction of characters in duplicate n-grams" filter
    from the Gopher/MassiveText quality rules, the strongest
    template/boilerplate signal after `doc_repetition_stats`'s
    token-level ratios.

    Coverage is an exact interval union (each duplicate trigram
    occurrence covers positions [p, p+2]): classic gaps-and-islands —
    per-doc running max of interval ends marks island starts, a running
    sum numbers the islands, and per-island extents sum to the covered
    token count. All windows partition on doc_id (bounded by document
    length, never global) and all arithmetic is integer, so the result
    hashes identically across engines. Plan: one explode + per-doc
    windows + two hash aggregates — one doc_id shuffle reused
    throughout."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " +")).alias("pos", "tok")
    )
    w_seq = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("t2", F.lead("tok", 1).over(w_seq))
        .withColumn("t3", F.lead("tok", 2).over(w_seq))
        .filter(F.col("t3").isNotNull())
        .select(
            "doc_id", "pos", F.concat_ws(" ", "tok", "t2", "t3").alias("gram")
        )
    )
    dup_occ = (
        grams.withColumn(
            "n_occ", F.count("*").over(Window.partitionBy("doc_id", "gram"))
        )
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + _DUP_N - 1).alias("e"))
    )
    w_isl = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w_isl.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        dup_occ.withColumn(
            "new_isl",
            F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(w_isl.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "isl")
        .agg((F.max("e") - F.min("s") + 1).alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").alias("dup_tokens"))
    )
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return totals.join(islands, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 4
        ).alias("dup_fraction"),
    )


ORACLE_DUP_NGRAM = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(text, ' +')) AS tok,
         generate_subscripts(string_split_regex(text, ' +'), 1) - 1 AS pos
  FROM documents
),
grams AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS gram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
),
dup_occ AS (
  SELECT doc_id, pos AS s, pos + {_DUP_N - 1} AS e
  FROM grams
  QUALIFY count(*) OVER (PARTITION BY doc_id, gram) >= 2
),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_e
    FROM dup_occ
  )
),
cov AS (
  SELECT doc_id, sum(covered) AS dup_tokens
  FROM (
    SELECT doc_id, isl, max(e) - min(s) + 1 AS covered
    FROM isl GROUP BY 1, 2
  )
  GROUP BY 1
),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(c.dup_tokens, 0) / CAST(t.n_tokens AS DOUBLE), 4)
         AS dup_fraction
FROM totals t LEFT JOIN cov c ON c.doc_id = t.doc_id
"""


# Gopher/MassiveText-style rule thresholds, tuned so each rule actually
# fires on a few percent of the fixture (quantiles measured at sf0.01)
_QF_MIN_TOKENS = 25
_QF_MIN_DISTINCT = 0.35
_QF_MAX_TOP_TOKEN = 0.14
_QF_MAX_DUP_FRAC = 0.05
_QF_MIN_STOPWORD = 0.01


def q_doc_quality_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed quality-filter DECISION: every document against the
    full Gopher-style rulebook — minimum length, token diversity,
    top-token dominance, duplicate-trigram coverage, stopword presence —
    with the failed-rule list in a deterministic order and a final
    keep/drop verdict. This is the operator a training pipeline actually
    materializes (the per-signal queries are its observability views).

    Composes the registered signal queries (repetition stats, duplicate
    n-gram coverage, quality score) by doc_id equi-joins — one pruned
    column scan per signal, doc_id partitioning reused across the
    joins; a fused single-scan variant would save two scans at the cost
    of decoupling the verdict from its observability views, the wrong
    trade for an audit operator. Every threshold compares a value
    already rounded to 4 decimals in BOTH engines, so the verdict bit
    is portable."""
    rep = q_doc_repetition_stats(spark, sf_dir)
    dup = q_doc_dup_ngram_fraction(spark, sf_dir).select(
        "doc_id", "dup_fraction"
    )
    qual = q_doc_quality_score(spark, sf_dir).select(
        "doc_id", "stopword_ratio"
    )
    j = rep.join(dup, "doc_id").join(qual, "doc_id")
    rules = [
        ("too_short", F.col("n_tokens") < _QF_MIN_TOKENS),
        ("low_diversity", F.col("distinct_ratio") < _QF_MIN_DISTINCT),
        ("top_token_heavy", F.col("top_token_fraction") > _QF_MAX_TOP_TOKEN),
        ("dup_ngrams", F.col("dup_fraction") > _QF_MAX_DUP_FRAC),
        ("no_stopwords", F.col("stopword_ratio") < _QF_MIN_STOPWORD),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(code)) for code, cond in rules]
    )
    keep = F.lit(True)
    for _, cond in rules:
        keep = keep & ~cond
    return j.select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "top_token_fraction",
        "dup_fraction",
        "stopword_ratio",
        keep.cast("int").alias("keep"),
        reasons.alias("reasons"),
    )


ORACLE_QUALITY_FILTER = f"""
WITH rep AS ({ORACLE_REPETITION}),
dupn AS ({ORACLE_DUP_NGRAM}),
qual AS ({ORACLE_QUALITY})
SELECT r.doc_id, r.n_tokens, r.distinct_ratio, r.top_token_fraction,
       d.dup_fraction, q.stopword_ratio,
       CAST(NOT (r.n_tokens < {_QF_MIN_TOKENS}
              OR r.distinct_ratio < {_QF_MIN_DISTINCT}
              OR r.top_token_fraction > {_QF_MAX_TOP_TOKEN}
              OR d.dup_fraction > {_QF_MAX_DUP_FRAC}
              OR q.stopword_ratio < {_QF_MIN_STOPWORD}) AS INT) AS keep,
       concat_ws(',',
         CASE WHEN r.n_tokens < {_QF_MIN_TOKENS} THEN 'too_short' END,
         CASE WHEN r.distinct_ratio < {_QF_MIN_DISTINCT} THEN 'low_diversity' END,
         CASE WHEN r.top_token_fraction > {_QF_MAX_TOP_TOKEN} THEN 'top_token_heavy' END,
         CASE WHEN d.dup_fraction > {_QF_MAX_DUP_FRAC} THEN 'dup_ngrams' END,
         CASE WHEN q.stopword_ratio < {_QF_MIN_STOPWORD} THEN 'no_stopwords' END
       ) AS reasons
FROM rep r
JOIN dupn d ON d.doc_id = r.doc_id
JOIN qual q ON q.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# BM25 retrieval

_BM25_QUERIES = (
    (1, ("spark", "join", "stream")),
    (2, ("hash", "merge", "sort")),
    (3, ("customer", "order", "query")),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed query set — the lexical
    retrieval operator of a dedup/decontamination/RAG pipeline (Okapi
    BM25, k1=1.2, b=0.75).

    Plan: one pass tokenizes and KEEPS ONLY query-term postings (the
    ``isin`` filter on the exploded term sits before the tf aggregate,
    so the posting-list shuffle carries query-term rows only — at 100 TB
    this is the classic "score against a small query batch" shape, never
    a full inverted index); df comes from a term-level aggregate of the
    same pruned postings (tiny: ≤|query terms| rows, broadcast), N and
    avgdl from a 1-row corpus aggregate broadcast via cross join, and
    the query set itself is a broadcast literal dim. Per-term
    contributions round to 7 decimals before the per-(query,doc) sum
    (which rounds to 4) so partial-sum order can't flip low bits; ties
    rank on doc_id. Building a PERSISTED inverted index instead (for
    many-query workloads) is a partitionBy(term) layout of the same
    postings DataFrame — the layout module's pattern.
    """
    terms = sorted({t for _, ts in _BM25_QUERIES for t in ts})
    qdim = spark.createDataFrame(
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts], "qid INT, term STRING"
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), " +").alias("t")
    ).select("doc_id", F.size("t").cast("double").alias("dl"), F.explode("t").alias("term"))
    corpus = d.select(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " +"))).alias("avgdl"),
    )
    postings = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        postings.join(F.broadcast(qdim), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("contrib", F.round(idf * tf_part, 7))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_TOPK)
        .select("qid", "rk", "doc_id", "bm25")
    )


def _bm25_query_values() -> str:
    return ", ".join(
        f"({qid}, '{t}')" for qid, ts in _BM25_QUERIES for t in ts
    )


ORACLE_BM25 = f"""
WITH qterms(qid, term) AS (VALUES {_bm25_query_values()}),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, ' +')) AS DOUBLE) AS dl,
         unnest(string_split_regex(text, ' +')) AS term
  FROM documents
),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(len(string_split_regex(text, ' +'))) AS avgdl
  FROM documents
),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM toks
  WHERE term IN (SELECT term FROM qterms)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT q.qid, p.doc_id,
         round(sum(round(
           ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * ({_BM25_K1} + 1))
             / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / c.avgdl)),
         7)), 4) AS bm25
  FROM postings p
  JOIN qterms q ON q.term = p.term
  JOIN dfreq f ON f.term = p.term
  CROSS JOIN corpus c
  GROUP BY 1, 2
)
SELECT qid, rk, doc_id, bm25 FROM (
  SELECT qid, doc_id, bm25,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS INT)
           AS rk
  FROM scored
)
WHERE rk <= {_BM25_TOPK}
"""


# --- retrieval-quality eval: graded NDCG@10 / MRR / recall -------------------

_NDCG_CUT = 10


def q_doc_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation harness — the metric layer every
    RAG / retrieval pipeline ships next to its index: for the fixed
    BM25 query set, grade each candidate by how many distinct query
    terms it contains (g ∈ 1..|q|, gain 2^g − 1), rank by the SAME
    BM25 score as q_doc_bm25_topk, and emit per query: the full-match
    candidate count, MRR (reciprocal rank of the first full match),
    DCG@10 / NDCG@10 against the ideal grade ordering, and
    recall@10 of full matches. One row per query — the eval report a
    dataset curator gates an index rollout on.

    Plan shape: identical to BM25 (pruned postings, broadcast dims);
    the grades ride the same (qid, doc) aggregate as the score, the
    metrics are two windows over the per-query candidate lists.
    Engine-stable math: per-rank contributions round to 9 before the
    ≤10-element sums, metric outputs round to 6; ranking ties break on
    doc_id in both engines."""
    n_q_terms = {qid: len(ts) for qid, ts in _BM25_QUERIES}
    terms = sorted({t for _, ts in _BM25_QUERIES for t in ts})
    qdim = spark.createDataFrame(
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts], "qid INT, term STRING"
    )
    qsize = spark.createDataFrame(
        [(qid, n) for qid, n in n_q_terms.items()], "qid INT, qn INT"
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), " +").alias("t")
    ).select("doc_id", F.size("t").cast("double").alias("dl"), F.explode("t").alias("term"))
    corpus = d.select(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " +"))).alias("avgdl"),
    )
    postings = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        postings.join(F.broadcast(qdim), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("contrib", F.round(idf * tf_part, 7))
        .groupBy("qid", "doc_id")
        .agg(
            F.round(F.sum("contrib"), 4).alias("bm25"),
            F.countDistinct("term").alias("g"),
        )
        .join(F.broadcast(qsize), "qid")
    )
    gain = (F.pow(F.lit(2.0), F.col("g")) - 1.0).alias("gain")
    w_rank = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    w_ideal = Window.partitionBy("qid").orderBy(F.desc("g"), "doc_id")
    ranked = scored.select(
        "qid", "doc_id", "g", "qn", gain,
        F.row_number().over(w_rank).alias("rk"),
        F.row_number().over(w_ideal).alias("irk"),
    )
    full = F.col("g") == F.col("qn")
    disc = lambda rank: F.log2(rank.cast("double") + 1.0)  # noqa: E731
    per_q = ranked.groupBy("qid").agg(
        F.sum(full.cast("long")).cast("long").alias("n_full_match"),
        F.round(
            F.coalesce(1.0 / F.min(F.when(full, F.col("rk"))), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.sum(
                F.when(
                    F.col("rk") <= _NDCG_CUT,
                    F.round(F.col("gain") / disc(F.col("rk")), 9),
                ).otherwise(0.0)
            ),
            6,
        ).alias("dcg_at_10"),
        F.round(
            F.sum(
                F.when(
                    F.col("irk") <= _NDCG_CUT,
                    F.round(F.col("gain") / disc(F.col("irk")), 9),
                ).otherwise(0.0)
            ),
            6,
        ).alias("_idcg"),
        F.sum((full & (F.col("rk") <= _NDCG_CUT)).cast("long"))
        .cast("long")
        .alias("_full_in_10"),
    )
    return per_q.select(
        "qid",
        "n_full_match",
        "mrr",
        "dcg_at_10",
        F.round(
            F.when(F.col("_idcg") > 0, F.col("dcg_at_10") / F.col("_idcg"))
            .otherwise(0.0),
            6,
        ).alias("ndcg_at_10"),
        F.round(
            F.when(
                F.col("n_full_match") > 0,
                F.col("_full_in_10") / F.col("n_full_match").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("recall_at_10"),
    )


def _ndcg_oracle_sql() -> str:
    qsizes = ", ".join(f"({qid}, {len(ts)})" for qid, ts in _BM25_QUERIES)
    return f"""
WITH qterms(qid, term) AS (VALUES {_bm25_query_values()}),
qsize(qid, qn) AS (VALUES {qsizes}),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, ' +')) AS DOUBLE) AS dl,
         unnest(string_split_regex(text, ' +')) AS term
  FROM documents
),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(len(string_split_regex(text, ' +'))) AS avgdl
  FROM documents
),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM toks
  WHERE term IN (SELECT term FROM qterms)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT q.qid, p.doc_id,
         round(sum(round(
           ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * ({_BM25_K1} + 1))
             / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / c.avgdl)),
         7)), 4) AS bm25,
         count(DISTINCT p.term) AS g
  FROM postings p
  JOIN qterms q ON q.term = p.term
  JOIN dfreq f ON f.term = p.term
  CROSS JOIN corpus c
  GROUP BY 1, 2
),
ranked AS (
  SELECT s.qid, s.doc_id, s.g, z.qn,
         power(2.0, s.g) - 1.0 AS gain,
         row_number() OVER (PARTITION BY s.qid
                            ORDER BY s.bm25 DESC, s.doc_id) AS rk,
         row_number() OVER (PARTITION BY s.qid
                            ORDER BY s.g DESC, s.doc_id) AS irk
  FROM scored s JOIN qsize z ON z.qid = s.qid
),
per_q AS (
  SELECT qid,
         CAST(sum(CASE WHEN g = qn THEN 1 ELSE 0 END) AS BIGINT)
           AS n_full_match,
         round(coalesce(1.0 / min(CASE WHEN g = qn THEN rk END), 0.0), 6)
           AS mrr,
         round(sum(CASE WHEN rk <= {_NDCG_CUT}
                        THEN round(gain / log2(CAST(rk AS DOUBLE) + 1.0), 9)
                        ELSE 0.0 END), 6) AS dcg_at_10,
         round(sum(CASE WHEN irk <= {_NDCG_CUT}
                        THEN round(gain / log2(CAST(irk AS DOUBLE) + 1.0), 9)
                        ELSE 0.0 END), 6) AS idcg,
         CAST(sum(CASE WHEN g = qn AND rk <= {_NDCG_CUT} THEN 1 ELSE 0 END)
              AS BIGINT) AS full_in_10
  FROM ranked GROUP BY qid
)
SELECT qid, n_full_match, mrr, dcg_at_10,
       round(CASE WHEN idcg > 0 THEN dcg_at_10 / idcg ELSE 0.0 END, 6)
         AS ndcg_at_10,
       round(CASE WHEN n_full_match > 0
                  THEN full_in_10 / CAST(n_full_match AS DOUBLE)
                  ELSE 0.0 END, 6) AS recall_at_10
FROM per_q
"""


ORACLE_RETRIEVAL_NDCG = _ndcg_oracle_sql()


# --- hybrid retrieval: reciprocal-rank fusion --------------------------------

_RRF_K = 60
_RRF_POOL = 100  # per-source candidate pool (top-R lists, the fusion input)
_RRF_TOPK = 25
_RRF_TERMS = ("spark", "join", "stream")  # lexical query (BM25 qid 1)
_RRF_QVEC_ID = 0  # dense query = this vector's embedding


def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (dense + sparse) retrieval via reciprocal-rank fusion —
    the standard way RAG / curation stacks combine BM25 with embedding
    similarity: take each source's top-R list, score every pooled doc
    Σ 1/(k + rank_source) with k=60 (Cormack et al.), keep the fused
    top-25. Lexical side reuses the BM25 machinery (same k1/b/rounding
    conventions as doc_bm25_topk); dense side is cosine against the
    embedding of vec_id 0.

    Scale shape — fuse top-R LISTS, never full rankings: each source's
    pool comes from orderBy().limit(R), i.e. TakeOrderedAndProject
    (per-partition partial top-R, R-row driver merge — no global sort,
    no unbounded window); rank assignment then windows over the ≤R-row
    pools only. The fusion itself is a tiny full-outer join of two
    R-row lists. Absent-from-pool ranks contribute 0 (emitted as the
    0 sentinel, never NULL, so cross-engine hashing is exact); RRF
    terms are 1/(60+rank) — identical IEEE doubles both engines —
    summed then rounded to 6."""
    d = load_table(spark, sf_dir, "documents")
    # lexical pool: BM25 over query-term postings (doc_bm25_topk's plan)
    toks = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).select(
        "doc_id", F.size("t").cast("double").alias("dl"), F.explode("t").alias("term")
    )
    corpus = d.select(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " +"))).alias("avgdl"),
    )
    postings = (
        toks.filter(F.col("term").isin(*_RRF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    lex_scores = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("contrib", F.round(idf * tf_part, 7))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
    )
    lex_pool = lex_scores.orderBy(F.desc("bm25"), "doc_id").limit(_RRF_POOL)
    lex_ranked = lex_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("lex_rank"),
    )
    # dense pool: cosine vs the vec 0 embedding (exact brute-force top-R
    # is the baseline; ann_topk is the documented scale path)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    qv = e.filter(F.col("doc_id") == _RRF_QVEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    el = e.crossJoin(F.broadcast(qv)).select(
        "doc_id",
        F.round(
            F.aggregate(
                F.zip_with("embedding", "qvec", lambda a, b: a.cast("double") * b.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (
                F.sqrt(F.aggregate(F.transform("embedding", lambda a: a.cast("double") * a.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
                * F.sqrt(F.aggregate(F.transform("qvec", lambda a: a.cast("double") * a.cast("double")), F.lit(0.0), lambda acc, x: acc + x))
            ),
            6,
        ).alias("cos6"),
    )
    cos_pool = el.orderBy(F.desc("cos6"), "doc_id").limit(_RRF_POOL)
    cos_ranked = cos_pool.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("cos6"), "doc_id")).alias("cos_rank"),
    )
    fused = lex_ranked.join(cos_ranked, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("cos_rank", F.lit(0)).alias("cos_rank"),
    )
    rrf = F.round(
        F.when(F.col("lex_rank") > 0, F.lit(1.0) / (_RRF_K + F.col("lex_rank"))).otherwise(F.lit(0.0))
        + F.when(F.col("cos_rank") > 0, F.lit(1.0) / (_RRF_K + F.col("cos_rank"))).otherwise(F.lit(0.0)),
        6,
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_TOPK)
    )


ORACLE_HYBRID_RRF = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(text, ' +')) AS DOUBLE) AS dl,
         unnest(string_split_regex(text, ' +')) AS term
  FROM documents
),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(len(string_split_regex(text, ' +'))) AS avgdl
  FROM documents
),
postings AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM toks WHERE term IN {tuple(_RRF_TERMS)!r}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1),
lex_scores AS (
  SELECT p.doc_id,
         round(sum(round(
           ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * ({_BM25_K1} + 1))
             / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / c.avgdl)),
         7)), 4) AS bm25
  FROM postings p JOIN dfreq f ON f.term = p.term CROSS JOIN corpus c
  GROUP BY 1
),
lex_ranked AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS lex_rank
  FROM lex_scores
  QUALIFY lex_rank <= {_RRF_POOL}
),
emb AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qv AS (SELECT v AS qvec FROM emb WHERE doc_id = {_RRF_QVEC_ID}),
cos AS (
  SELECT e.doc_id, round(list_cosine_similarity(e.v, q.qvec), 6) AS cos6
  FROM emb e CROSS JOIN qv q
),
cos_ranked AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos6 DESC, doc_id) AS INT)
           AS cos_rank
  FROM cos
  QUALIFY cos_rank <= {_RRF_POOL}
),
fused AS (
  SELECT coalesce(l.doc_id, c.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0) AS lex_rank,
         coalesce(c.cos_rank, 0) AS cos_rank
  FROM lex_ranked l FULL OUTER JOIN cos_ranked c ON l.doc_id = c.doc_id
)
SELECT doc_id, lex_rank, cos_rank,
       round(CASE WHEN lex_rank > 0 THEN 1.0 / ({_RRF_K} + lex_rank) ELSE 0.0 END
             + CASE WHEN cos_rank > 0 THEN 1.0 / ({_RRF_K} + cos_rank) ELSE 0.0 END,
             6) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""


# --- consecutive-repeat collapse (inline cleaning transform) ----------------


def q_doc_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc consecutive-duplicate-token collapse — the inline
    cleaning TRANSFORM companion to the repetition METRICS
    (doc_repetition_stats / doc_dup_ngram_fraction measure; this one
    rewrites): runs of the same token ("spam spam spam") keep their
    first occurrence, the C4-style boilerplate-run cleanup. Emits the
    per-doc before/after token accounting and a 50-char prefix of the
    cleaned text for every doc the transform actually changed.

    Spark side is a pure ARRAY expression — zip each token with its
    predecessor (a slice-shifted copy of the array, NULL-headed) and
    keep tokens that differ from the predecessor — one row in, one row
    out, no explode, no window: at 100 TB this is a map-only pass,
    exactly what an inline cleaning stage must be. (split() never
    yields NULL elements, so a NULL predecessor uniquely marks the
    head; `NULL-pred OR x ≠ pred` keeps it, matching the previous
    indexed form's i = 0 branch.)

    r14 rewrite (guide §2.4 — remove shuffles outright): the previous
    form compared via ``get(tokens, i−1)`` INSIDE the filter lambda —
    one whole-array reference per ELEMENT — so CollapseProject would
    inline the split() into every reference (O(tokens²) re-splits per
    doc, measured 10.5 s vs ~1 s at sf0.1) and a repartition("doc_id")
    exchange had to stand as an optimizer barrier. The shifted-array
    form references the array a BOUNDED number of times (≤6 after
    inlining, linear work), so the barrier — a full shuffle of the
    token arrays — is dropped; interpreted-projection subexpression
    elimination additionally evaluates the shared `kept` tree once.
    The oracle has no array lambda at all: it replays the identical
    semantics relationally (unnest WITH ORDINALITY + lag window +
    ordered string_agg) — same result, different idiom, which is
    itself evidence the semantics are engine-independent."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t"))
    t = F.col("t")
    prev = F.concat(
        F.array(F.lit(None).cast("string")), F.slice(t, 1, F.size(t) - 1)
    )
    kept = F.filter(
        F.zip_with(t, prev, lambda x, p: F.when(p.isNull() | (x != p), x)),
        lambda x: x.isNotNull(),
    )
    return (
        tok.select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            F.size(kept).alias("n_after"),
            (F.size(t) - F.size(kept)).alias("n_removed"),
            F.substring(F.concat_ws(" ", kept), 1, 50).alias("cleaned_prefix"),
        )
        .filter(F.col("n_removed") > 0)
        # no trailing orderBy (order-insensitive hash; sort = wasted exchange)
    )


ORACLE_COLLAPSE_REPEATS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
),
tok AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS i FROM toks
),
kept AS (
  SELECT doc_id, w, i FROM (
    SELECT doc_id, w, i,
           lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
    FROM tok
  ) WHERE pw IS NULL OR w <> pw
),
agg AS (
  SELECT doc_id, count(*) AS n_after,
         substr(string_agg(w, ' ' ORDER BY i), 1, 50) AS cleaned_prefix
  FROM kept GROUP BY 1
),
n AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
SELECT n.doc_id, n.n_tokens, agg.n_after,
       n.n_tokens - agg.n_after AS n_removed, agg.cleaned_prefix
FROM n JOIN agg ON n.doc_id = agg.doc_id
WHERE n.n_tokens - agg.n_after > 0
ORDER BY n.doc_id
"""


# --- MMR diversified rerank -------------------------------------------------

_MMR_TERMS = ("spark", "shuffle", "join")
_MMR_POOL = 30  # rerank pool size (top-R by relevance — the scale contract)
_MMR_K = 10  # results to select
_MMR_W_REL = 3  # integer MMR weights: score = 3·rel − max_shared  (λ = 0.75)


def q_doc_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank — the diversity pass a RAG /
    search stack runs over its top-R retrieval pool: greedily pick the
    doc maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked,
    so near-duplicate hits can't crowd the result list.

    Everything is INTEGER math, which is what makes a sequential greedy
    algorithm oracle-checkable: relevance = query-term occurrence count,
    similarity = shared distinct 3-word shingles between pool docs, the
    MMR score is {w}·rel − max_shared with ties broken by doc_id, and
    the DuckDB oracle REPLAYS the greedy selection step-for-step with a
    recursive CTE carrying the picked-list (the SRP-LSH precedent:
    exact integers make "non-relational" algorithms hash-gateable).

    Scale shape: relevance counting and the pairwise shingle
    intersection run distributed (the pool side of the sim join is
    {pool} docs — a broadcast semi-join prunes the corpus first); the
    greedy loop itself touches only the R×R integer tables, an
    inherently sequential O(K·R) driver step of the same bounded class
    as the PCA eigensolve and PQ codebook reductions (adjudicated r4).
    MMR is sequential by definition — the pool bound IS the contract."""
    d = load_table(spark, sf_dir, "documents")
    tok_df = (
        d.select("doc_id", F.split(F.col("text"), " +").alias("t"))
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    term_arr = F.array(*[F.lit(t) for t in _MMR_TERMS])
    rel = (
        tok_df.select(
            "doc_id",
            F.size(F.filter("t", lambda x: F.array_contains(term_arr, x))).alias("rel"),
        )
        .filter(F.col("rel") >= 1)
    )
    pool = rel.orderBy(F.desc("rel"), F.asc("doc_id")).limit(_MMR_POOL)
    sh = (
        tok_df.join(F.broadcast(pool.select("doc_id")), "doc_id", "left_semi")
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("t", i),
                            F.element_at("t", i + 1),
                            F.element_at("t", i + 2),
                        ),
                    )
                )
            ).alias("s"),
        )
    )
    a, b = sh.alias("a"), sh.alias("b")
    sims = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("shared"))
    )
    # bounded driver reduction: R rows + R² sims; the greedy comparator
    # is EXACTLY the oracle's (score DESC, doc_id ASC)
    pool_rows = {r.doc_id: r.rel for r in pool.collect()}
    sim_rows = {}
    for r in sims.collect():
        sim_rows[(r.da, r.db)] = r.shared
        sim_rows[(r.db, r.da)] = r.shared
    picked: list[int] = []
    for _ in range(min(_MMR_K, len(pool_rows))):
        best = None
        for doc, rl in pool_rows.items():
            if doc in picked:
                continue
            pen = max((sim_rows.get((doc, p), 0) for p in picked), default=0)
            score = _MMR_W_REL * rl - pen
            key = (-score, doc)
            if best is None or key < best[0]:
                best = (key, doc)
        picked.append(best[1])
    out = [(i + 1, doc, pool_rows[doc]) for i, doc in enumerate(picked)]
    return spark.createDataFrame(out, "rank long, doc_id long, rel long")


q_doc_mmr_rerank.__doc__ = q_doc_mmr_rerank.__doc__.format(
    w=_MMR_W_REL, pool=_MMR_POOL
)


def _mmr_oracle_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _MMR_TERMS)
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok FROM documents
),
rel AS (
  SELECT doc_id, count(*) AS rel FROM toks
  WHERE tok IN ({terms}) GROUP BY 1
),
pool AS (
  SELECT doc_id, rel FROM rel ORDER BY rel DESC, doc_id ASC LIMIT {_MMR_POOL}
),
t AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE doc_id IN (SELECT doc_id FROM pool)
),
sh AS (
  SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS s
  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
        FROM t WHERE len(t) >= 3)
),
sims AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sel(step, picked) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT step + 1, list_append(picked, (
    SELECT d.doc_id FROM pool d
    WHERE NOT list_contains(picked, d.doc_id)
    ORDER BY {_MMR_W_REL} * d.rel - coalesce((
        SELECT max(s.shared) FROM sims s
        WHERE (s.da = d.doc_id AND list_contains(picked, s.db))
           OR (s.db = d.doc_id AND list_contains(picked, s.da))
      ), 0) DESC, d.doc_id ASC
    LIMIT 1
  ))
  FROM sel WHERE step < {_MMR_K}
)
SELECT CAST(i + 1 AS BIGINT) AS rank,
       picked[CAST(i + 1 AS BIGINT)] AS doc_id,
       (SELECT rel FROM pool p WHERE p.doc_id = picked[CAST(i + 1 AS BIGINT)]) AS rel
FROM (SELECT picked FROM sel WHERE step = {_MMR_K}),
     (SELECT unnest(range({_MMR_K})) AS i)
ORDER BY rank
"""


ORACLE_MMR = _mmr_oracle_sql()


# --- token entropy / lexical-diversity profile ------------------------------

def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile: token count, type count,
    type-token ratio, Shannon entropy of the token distribution, and
    the head token's mass — the repetitiveness signals (low entropy /
    high top-token fraction = TEMPLATE or degenerate text) a quality
    pass reads next to Gopher's rules.

    Entropy is −Σ (c/n)·ln(c/n) over the per-doc token histogram; both
    engines sum the same exact rationals through libm ln, and round-4
    absorbs summation-order ulp (the established PMI/Zipf precedent).
    Plan: the token array materializes behind the standard repartition
    barrier (CollapseProject re-split trap), one explode → per-(doc,
    token) count → per-doc aggregate — two shuffles, per-doc-linear."""
    d = load_table(spark, sf_dir, "documents")
    tok_df = (
        d.select("doc_id", F.split(F.col("text"), " +").alias("t"))
        .repartition("doc_id")
        .select("doc_id", F.explode("t").alias("tok"))
    )
    counts = tok_df.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    frac = F.col("c") / F.col("n")
    return (
        counts.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.round(F.count("*") / F.max("n"), 4).alias("ttr"),
            F.round(-F.sum(frac * F.log(frac)), 4).alias("entropy"),
            F.round(F.max("c") / F.max("n"), 4).alias("top_token_frac"),
        )
    )


ORACLE_TOKEN_ENTROPY = """
WITH counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
        FROM documents)
  GROUP BY 1, 2
),
wn AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) / CAST(max(n) AS DOUBLE), 4) AS ttr,
       round(-sum((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))), 4) AS entropy,
       round(max(c) / CAST(max(n) AS DOUBLE), 4) AS top_token_frac
FROM wn GROUP BY 1
"""


_PHRASE_TOP = 3


def q_doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search: find the corpus's top-3 bigram phrases,
    then count each phrase's OVERLAPPING occurrences per document by
    adjacent-position match — the capability BM25/TF-IDF bag-of-words
    retrieval can't express ("new york" ≠ {new, york}), normally served
    by a positional inverted index.

    Two stages, both array-side: (1) bigram doc-frequency — one explode
    of adjacent token pairs, one count, distributed top-k via
    sort+limit (TakeOrderedAndProject, ties by phrase text); (2) the
    tiny phrase dim broadcast-crossed against documents, occurrences
    counted INSIDE the tokens array (``filter(sequence(...))`` over
    1-based ``element_at``) — no posexplode of the corpus, no
    positional-postings self-join, so the fact-side cost is one pass
    over each doc's token array per phrase. Overlap semantics: in
    "batch batch batch", "batch batch" occurs twice. At 100 TB the
    phrase dim is constant-sized and the scan stays embarrassingly
    parallel — the exact shape a positional index lookup degrades to
    when the phrase list is small and the corpus is the big side."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " +").alias("toks")
    )
    bigrams = (
        d.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("phrase")
        )
        .groupBy("phrase")
        .agg(F.count("*").alias("total"))
        .orderBy(F.desc("total"), F.asc("phrase"))
        .limit(_PHRASE_TOP)
        .select("phrase")
    )
    hits = d.join(F.broadcast(bigrams)).withColumn(
        "n_matches",
        F.expr(
            "size(filter(sequence(1, size(toks) - 1), i -> "
            "element_at(toks, i) = split_part(phrase, ' ', 1) AND "
            "element_at(toks, i + 1) = split_part(phrase, ' ', 2)))"
        ).cast("long"),
    )
    return hits.filter(F.col("n_matches") > 0).select("phrase", "doc_id", "n_matches")


ORACLE_PHRASE_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> concat(toks[i], ' ', toks[i + 1]))) AS phrase
  FROM toks
),
top_phrases AS (
  SELECT phrase FROM bigrams GROUP BY phrase
  ORDER BY count(*) DESC, phrase ASC LIMIT {_PHRASE_TOP}
)
SELECT phrase, doc_id, n_matches FROM (
  SELECT p.phrase, t.doc_id,
         CAST(len(list_filter(range(1, len(t.toks)), i ->
                t.toks[i] = split_part(p.phrase, ' ', 1) AND
                t.toks[i + 1] = split_part(p.phrase, ' ', 2))) AS BIGINT)
           AS n_matches
  FROM toks t CROSS JOIN top_phrases p
)
WHERE n_matches > 0
"""



def q_doc_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ k·N^β over the
    corpus in doc_id order — β near 0.5 means new text keeps minting
    vocabulary (scaling data keeps paying), β near 0 means the corpus
    has saturated (the companion scaling diagnostic to Zipf's rank
    law and the per-doc novelty curve).

    The cumulative-vocabulary curve needs no sequential scan: a
    token's first appearance is first_owner = min(doc_id) — one hash
    aggregate — so V(after doc d) = running sum of first-owned counts
    and N(after doc d) = running sum of token counts, both windows
    over the |docs|-row per-doc rollup, never the token stream. The
    log-log OLS over the curve is the closed-form sufficient-stats
    regression on that tiny table. Emits one row: beta, k, r2, and
    the endpoints (n_tokens, vocabulary). Collision caveat: vocabulary
    identity is xxhash64(token) while the oracle distinct-counts raw
    strings — the certificate assumes 64-bit collision-freedom
    (P ≈ V²/2⁶⁵; a collision would undercount V by one)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " +")).alias("w"))
        .filter(F.col("w") != "")
        .select("doc_id", F.xxhash64("w").alias("h"))
    )
    per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    owners = tok.groupBy("h").agg(F.min("doc_id").alias("first_owner"))
    novel = owners.groupBy(F.col("first_owner").alias("doc_id")).agg(
        F.count("*").alias("n_new")
    )
    # Honest bound: the cumulative window runs the |docs|-row rollup
    # through one task — fine through ~10⁸ docs (8 B counters). Past
    # that, swap in the curation module's two-pass prefix pattern
    # (`_range_pid` bucket + per-bucket cumsum + |buckets|-row offset
    # table); the sums are integers, so the split is exact. Measured
    # r14: the two-pass form is 0.60 → 1.31 s at sf0.1 (the boundary
    # sample job + two extra shuffles dwarf a 5 000-row window), so the
    # single-window form stays until the input warrants it.
    w_cum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        per_doc.join(novel, "doc_id", "left")
        .select("doc_id", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            F.log(F.sum("n_tok").over(w_cum).cast("double")).alias("x"),
            F.log(F.sum("n_new").over(w_cum).cast("double")).alias("y"),
            F.sum("n_tok").over(w_cum).alias("cum_n"),
            F.sum("n_new").over(w_cum).alias("cum_v"),
        )
    )
    stats = curve.groupBy().agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.max("cum_n").alias("n_tokens"),
        F.max("cum_v").alias("vocabulary"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = num / F.nullif(den, F.lit(0.0))
    intercept = (F.col("sy") - beta * F.col("sx")) / F.col("m")
    sst = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = (num * num) / F.nullif(den * sst, F.lit(0.0))
    return stats.select(
        F.round(beta, 4).alias("beta"),
        F.round(F.exp(intercept), 4).alias("k"),
        F.round(r2, 4).alias("r2"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocabulary").cast("long").alias("vocabulary"),
    )


ORACLE_HEAPS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w FROM documents
),
tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
per_doc AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY 1),
owners AS (SELECT w, min(doc_id) AS first_owner FROM tok2 GROUP BY 1),
novel AS (SELECT first_owner AS doc_id, count(*) AS n_new FROM owners GROUP BY 1),
curve AS (
  SELECT ln(CAST(sum(p.n_tok) OVER w AS DOUBLE)) AS x,
         ln(CAST(sum(coalesce(v.n_new, 0)) OVER w AS DOUBLE)) AS y,
         CAST(sum(p.n_tok) OVER w AS BIGINT) AS cum_n,
         CAST(sum(coalesce(v.n_new, 0)) OVER w AS BIGINT) AS cum_v
  FROM per_doc p LEFT JOIN novel v USING (doc_id)
  WINDOW w AS (ORDER BY p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(x * y) AS sxy, sum(y * y) AS syy,
         max(cum_n) AS n_tokens, max(cum_v) AS vocabulary
  FROM curve
)
SELECT round((m * sxy - sx * sy) / nullif(m * sxx - sx * sx, 0.0), 4) AS beta,
       round(exp((sy - (m * sxy - sx * sy) / nullif(m * sxx - sx * sx, 0.0)
                  * sx) / m), 4) AS k,
       round((m * sxy - sx * sy) * (m * sxy - sx * sy)
             / nullif((m * sxx - sx * sx) * (m * syy - sy * sy), 0.0), 4)
         AS r2,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocabulary AS BIGINT) AS vocabulary
FROM stats
"""


_MG_K = 64  # Misra-Gries counters per partition sketch


def _mg_partition_sketch(batches):
    """Per-partition Misra-Gries summary over token Arrow batches —
    the mergeable-summaries form (Agarwal et al., PODS'12): counts are
    merged per batch via vectorized value_counts, then reduced back to
    ≤ K counters by subtracting the (K+1)-th largest count from all and
    dropping non-positives (the generalized decrement). Total
    subtraction across a partition is ≤ N_p/(K+1), so any token with
    partition-global count > N/(K+1) survives in at least one
    partition's summary — the superset guarantee the exact verify step
    relies on."""
    counters: dict[str, int] = {}
    for pdf in batches:
        vc = pdf["w"].value_counts()
        for tok, c in vc.items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > _MG_K:
            sub = sorted(counters.values(), reverse=True)[_MG_K]
            counters = {t: c - sub for t, c in counters.items() if c > sub}
    yield pd.DataFrame(
        {"token": list(counters.keys()), "lb": list(counters.values())}
    )


def q_doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream — Misra-Gries
    partition sketches (K=64 counters) unioned into a candidate set,
    then EXACT re-counted and filtered with the integer predicate
    count·(K+1) > N. The sketch bounds the candidate pool to
    K × partitions rows no matter how large the stream; the MG
    guarantee (an item with true count > N/(K+1) survives some
    partition's summary) makes the verified output EXACTLY the set of
    tokens above threshold — partition-layout-independent, which is
    what lets a deterministic DuckDB oracle (plain GROUP BY/HAVING)
    hash-gate a sketch-based plan. This is the two-phase shape a 100 TB
    vocabulary scan wants: the full stream is touched twice (once
    sketching map-side with zero shuffle, once re-counting a
    broadcast-semi-joined sliver), and nothing unbounded ever
    shuffles. Emits token, exact count, and corpus share.

    Candidate-pool honesty: the pool may exceed the true heavy set
    (MG over-keeps), but the exact recount filters it back — only the
    SUPERSET property matters, and it is load-bearing: a reduce-step
    bug surfaces as a missing token vs the oracle, not a silent
    estimate drift. The fixture vocabulary (31 tokens) is smaller than
    K, so the gate exercises the no-decrement path; the decrement path
    is pinned by a skewed-stream pytest."""
    d = load_table(spark, sf_dir, "documents")
    toks = corpus_tokens(d)
    cand = (
        toks.mapInPandas(_mg_partition_sketch, schema="token string, lb long")
        .groupBy("token")
        .agg(F.sum("lb").alias("lb"))
        .select("token")
    )
    return mg_finalize(spark, sf_dir, cand)


def corpus_tokens(documents: DataFrame) -> DataFrame:
    """The corpus token stream (column ``w``) — ONE tokenizer shared by
    the batch MG sketch, the streaming MG state op, and the exact
    finalizer, so all three count the same universe."""
    return documents.select(
        F.explode(F.split(F.col("text"), " +")).alias("w")
    ).filter(F.col("w") != "")


def mg_finalize(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Shared Misra-Gries finalizer: EXACT recount of a candidate token
    set (column ``token``) over the corpus + the integer threshold
    count·(K+1) > N. Both the batch sketch and the streaming MG state op
    feed candidates through here, so the batch twin's plain
    GROUP BY/HAVING DuckDB oracle certifies either path end-to-end —
    the superset guarantee is all a candidate source must supply."""
    toks = corpus_tokens(load_table(spark, sf_dir, "documents"))
    tot = toks.groupBy().agg(F.count("*").alias("n_total"))
    exact = (
        toks.join(F.broadcast(cand), F.col("w") == F.col("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("n_occurrences") * (_MG_K + 1) > F.col("n_total"))
        .select(
            "token",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("n_total"), 6).alias("share"),
        )
    )


ORACLE_HEAVY_HITTERS = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(text, ' +')) AS w FROM documents
),
tok2 AS (SELECT w FROM tok WHERE w <> ''),
tot AS (SELECT count(*) AS n_total FROM tok2)
SELECT w AS token,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       round(count(*) / CAST((SELECT n_total FROM tot) AS DOUBLE), 6) AS share
FROM tok2
GROUP BY 1
HAVING count(*) * {_MG_K + 1} > (SELECT n_total FROM tot)
"""


# --- inter-annotator agreement (Fleiss' kappa over 3 heuristic raters) -----


def q_doc_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across THREE deterministic keep/drop raters — the
    labeling-QA step a human-annotation or LLM-judge pipeline runs
    before trusting its labels: rater 1 = chars >= 150, rater 2 =
    tokens >= 25, rater 3 = stopword mass >= 10% (integer
    cross-multiplied so no float compare sits on a decision boundary).
    Emits the vote-count distribution plus the exact kappa decomposition
    (observed agreement P̄, chance agreement P_e from the keep marginal).

    Scale: one narrow projection computes all three votes per document
    (no shuffles between raters), then a single global aggregate over
    five integer sufficient statistics — constant state regardless of
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " +")
    n_tokens = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    votes = d.select(
        (
            (F.col("n_chars") >= 150).cast("int")
            + (n_tokens >= 25).cast("int")
            + (n_stop * 10 >= n_tokens).cast("int")
        ).alias("k")
    )
    agg = votes.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("k").cast("long").alias("keep_votes"),
        F.sum(F.col("k") * (F.col("k") - 1) + (3 - F.col("k")) * (2 - F.col("k")))
        .cast("long")
        .alias("agree_pairs"),
        *[
            F.sum((F.col("k") == i).cast("int")).cast("long").alias(f"n_k{i}")
            for i in range(4)
        ],
    )
    p_keep = F.col("keep_votes") / (3.0 * F.col("n_docs"))
    p_bar = F.col("agree_pairs") / (6.0 * F.col("n_docs"))
    p_e = p_keep * p_keep + (1 - p_keep) * (1 - p_keep)
    return agg.select(
        "n_docs",
        "n_k0",
        "n_k1",
        "n_k2",
        "n_k3",
        F.round(p_keep, 6).alias("p_keep"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        # try_divide: unanimous single-category input makes P_e = 1 and
        # kappa 0/0 — NULL here (like DuckDB), not an ANSI throw
        F.round(F.try_divide(p_bar - p_e, 1 - p_e), 6).alias("kappa"),
    )


ORACLE_FLEISS_KAPPA = """
WITH votes AS (
  SELECT (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)
       + (CASE WHEN n_tokens >= 25 THEN 1 ELSE 0 END)
       + (CASE WHEN n_stop * 10 >= n_tokens THEN 1 ELSE 0 END) AS k
  FROM (
    SELECT n_chars,
           CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split_regex(text, ' +'),
                                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
    FROM documents
  )
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(k) AS BIGINT) AS keep_votes,
         CAST(sum(k * (k - 1) + (3 - k) * (2 - k)) AS BIGINT) AS agree_pairs,
         CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_k0,
         CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_k1,
         CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_k2,
         CAST(sum(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_k3
  FROM votes
)
SELECT n_docs, n_k0, n_k1, n_k2, n_k3,
       round(keep_votes / (3.0 * n_docs), 6) AS p_keep,
       round(agree_pairs / (6.0 * n_docs), 6) AS p_bar,
       round(pow(keep_votes / (3.0 * n_docs), 2)
             + pow(1 - keep_votes / (3.0 * n_docs), 2), 6) AS p_e,
       round((agree_pairs / (6.0 * n_docs)
              - (pow(keep_votes / (3.0 * n_docs), 2)
                 + pow(1 - keep_votes / (3.0 * n_docs), 2)))
             / nullif(1 - (pow(keep_votes / (3.0 * n_docs), 2)
                           + pow(1 - keep_votes / (3.0 * n_docs), 2)), 0.0),
             6) AS kappa
FROM agg
"""


# --- safety blocklist scan with obfuscation normalization -------------------

# stand-in blocklist over the fixture vocabulary (a real deployment
# loads a curated lexicon); mixes a common term, a mid, and a rare one
# so hit-rate spans the distribution
_TOX_TERMS = ("slow", "big", "dup")
# leetspeak fold applied BEFORE matching: 0→o 1→i 3→e 4→a 5→s 7→t @→a $→s
_LEET_FROM = "013457@$"
_LEET_TO = "oieastas"


def q_doc_toxicity_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety-blocklist scan — the filtering stage a training corpus
    runs beside PII scrubbing: documents are matched against a term
    blocklist AFTER an obfuscation fold (lowercase + leetspeak
    character translation, so "SL0W"/"b1g" can't slip past a literal
    match). Per flagged doc: hit count, hit rate, and the sorted
    distinct terms that fired (the reviewer-facing evidence). Same
    plan shape as doc_pii_scan — pure column expressions (translate +
    split + higher-order filter), no UDF, one scan, no shuffle until
    the output projection."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.translate(F.lower(F.col("text")), _LEET_FROM, _LEET_TO)
    toks = F.split(norm, " +")
    block = F.array(*[F.lit(t) for t in _TOX_TERMS])
    hits = F.filter(toks, lambda t: F.array_contains(block, t))
    return (
        d.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(hits).cast("long").alias("n_hits"),
            F.array_join(
                F.array_sort(F.array_distinct(hits)), ","
            ).alias("terms_hit"),
        )
        .filter(F.col("n_hits") > 0)
        .withColumn("hit_rate", F.round(F.col("n_hits") / F.col("n_tokens"), 4))
    )


ORACLE_TOXICITY = f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(hits) AS BIGINT) AS n_hits,
       array_to_string(list_sort(list_distinct(hits)), ',') AS terms_hit,
       round(len(hits) / CAST(len(toks) AS DOUBLE), 4) AS hit_rate
FROM (
  SELECT doc_id, toks,
         list_filter(toks, t -> t IN ({", ".join(repr(t) for t in _TOX_TERMS)}))
           AS hits
  FROM (
    SELECT doc_id,
           string_split_regex(
             translate(lower(text), '{_LEET_FROM}', '{_LEET_TO}'), ' +') AS toks
    FROM documents
  )
)
WHERE len(hits) > 0
"""


# --- classifier calibration (ECE over the lang-id confidence) ---------------


def q_doc_lang_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-Calibration-Error audit of the lang-id heuristic — the
    model-eval step that decides whether a classifier's confidence can
    gate a corpus filter: confidence = winning score's share of total
    marker mass (uniform 1/5 when no marker hits), binned into deciles
    by EXACT integer arithmetic (floor(10·win/total) — no float sits on
    a bin edge), then per-bin mean confidence vs accuracy and the
    n-weighted ECE. Composes the registered q_doc_lang_id verbatim so
    the audit grades EXACTLY the production predictions.

    Scale: per-doc confidence is column math over the lang-id frame;
    one hash aggregate to 10 bins; the ECE constant is a broadcast
    1-row cross join — no extra pass over the corpus."""
    pred = q_doc_lang_id(spark, sf_dir)
    sp = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    tot = sum(F.col(f"score_{lang}") for lang in _LANG_ORDER)
    scored = pred.select(
        F.when(tot == 0, F.lit(2))
        .otherwise(F.least(F.lit(9), F.floor(sp * 10 / tot)))
        .cast("long")
        .alias("bin"),
        F.when(tot == 0, F.lit(0.2)).otherwise(sp / tot).alias("conf"),
        # when/otherwise, not a bare equality cast: a NULL lang must
        # count as incorrect (0) like the oracle's CASE, not drop out
        # of avg() as NULL
        F.when(F.col("predicted_lang") == F.col("lang"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("correct"),
    )
    bins = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("conf"), 4).alias("mean_conf"),
        F.round(F.avg("correct"), 4).alias("accuracy"),
    )
    gapped = bins.withColumn(
        "abs_gap", F.round(F.abs(F.col("accuracy") - F.col("mean_conf")), 4)
    ).localCheckpoint(eager=False)  # referenced twice below (rows + ece);
    # without the cut the crossJoin re-runs the whole lang-id lineage —
    # the Spark twin of the oracle's AS MATERIALIZED hint
    ece = gapped.agg(
        F.round(
            F.sum(F.col("n_docs") * F.col("abs_gap")) / F.sum("n_docs"), 4
        ).alias("ece")
    )
    return gapped.crossJoin(F.broadcast(ece))


ORACLE_LANG_CALIBRATION = (
    "WITH pred AS (" + ORACLE_LANG_ID + """),
scored AS (
  SELECT CASE WHEN tot = 0 THEN 2
              ELSE least(9, CAST(floor(win * 10.0 / tot) AS BIGINT)) END AS bin,
         CASE WHEN tot = 0 THEN 0.2 ELSE win / CAST(tot AS DOUBLE) END AS conf,
         CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END AS correct
  FROM (
    SELECT lang, predicted_lang,
           greatest(score_de, score_en, score_es, score_fr, score_zh) AS win,
           score_de + score_en + score_es + score_fr + score_zh AS tot
    FROM pred
  )
),
bins AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(avg(conf), 4) AS mean_conf,
         round(avg(correct), 4) AS accuracy
  FROM scored GROUP BY 1
),
-- MATERIALIZED: gapped is referenced twice below; without the hint
-- DuckDB re-inlines it (re-running the full lang-id scan per use) —
-- pure execution hint, same rows (see test_materialized_hints).
gapped AS MATERIALIZED (
  SELECT bin, n_docs, mean_conf, accuracy,
         round(abs(accuracy - mean_conf), 4) AS abs_gap
  FROM bins
)
SELECT g.*, e.ece
FROM gapped g CROSS JOIN (
  SELECT round(sum(n_docs * abs_gap) / sum(n_docs), 4) AS ece FROM gapped
) e
"""
)


# BPE-ish piece proxy: greedy ≤4-char alphanumeric chunks + punctuation
# singles — deterministic in both engines (Java regex and RE2 are both
# leftmost-first here), so "fertility" (pieces per whitespace word) is
# exactly replayable without shipping a trained tokenizer.
_FERT_PIECE_RE = r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"
_FERT_WORD_RE = r"[A-Za-z0-9]+"


def q_doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the multilingual-budget metric
    (pieces per word, bytes per piece) a training-data pipeline tracks
    per language before fixing a token budget: a high-fertility language
    pays more sequence length per word, so corpus mixing by raw bytes
    over-represents low-fertility languages. Pieces use a deterministic
    BPE-ish proxy (greedy ≤4-char alphanumeric chunks + punctuation
    singles) so the DuckDB oracle replays it exactly.

    Plan: one scan, two regexp_extract_all counts + octet_length per
    row, one |langs|-row aggregate — map-side partial aggregation does
    all the work; nothing shuffles but the tiny group table."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_FERT_WORD_RE), 0))
        .cast("long")
        .alias("w"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_FERT_PIECE_RE), 0))
        .cast("long")
        .alias("p"),
        F.octet_length("text").cast("long").alias("b"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("p").alias("n_pieces"),
        F.round(F.try_divide(F.sum("p"), F.sum("w")), 4).alias("fertility_r"),
        F.round(F.try_divide(F.sum("b"), F.sum("p")), 4).alias(
            "bytes_per_piece_r"
        ),
    )


ORACLE_FERTILITY = rf"""
WITH per AS (
  SELECT lang,
         len(regexp_extract_all(text, '{_FERT_WORD_RE}')) AS w,
         len(regexp_extract_all(text, '{_FERT_PIECE_RE}')) AS p,
         strlen(text) AS b
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(p) AS BIGINT) AS n_pieces,
       round(CAST(sum(p) AS DOUBLE) / nullif(sum(w), 0), 4) AS fertility_r,
       round(CAST(sum(b) AS DOUBLE) / nullif(sum(p), 0), 4) AS bytes_per_piece_r
FROM per GROUP BY lang
"""


_KN_D = 0.75  # Kneser-Ney absolute discount


def q_doc_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean log-probability under an interpolated Kneser-Ney
    bigram model — the smoothed upgrade of :func:`q_doc_bigram_logprob`
    (whose MLE assigns unseen-context mass nothing): KN backs off to the
    CONTINUATION unigram (how many distinct contexts a word follows —
    "Francisco" is frequent but follows only "San", so its continuation
    mass is tiny), the distribution KenLM-style quality filters actually
    use.

        P(w2|w1) = (max(c12 − D, 0) + D·N1+(w1,·)·N1+(·,w2)/N1+(··)) / c1

    Plan: one explode of the bigram stream feeds the three count tables
    — c12 by bigram hash, (c1, distinct-following) by w1 hash in ONE
    aggregate, distinct-preceding by w2 hash over the distinct-bigram
    frame — all equi-joins on 8-byte xxhash64 keys (vocab-sized sides:
    AQE broadcasts when they fit), plus a 1-row type-count cross join.
    No Python in the plan.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    bigrams = (
        tok.filter(F.size(t) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.xxhash64("bg.w1", "bg.w2").alias("h12"),
            F.xxhash64("bg.w1").alias("h1"),
            F.xxhash64("bg.w2").alias("h2"),
        )
    )
    c12 = bigrams.groupBy("h12").agg(F.count("*").alias("c12"))
    # c1 and N1+(w1,·) share one aggregate; countDistinct is safe here —
    # no object aggregate in the same agg (the Expand trap is specific
    # to mixing DISTINCT with percentile-class aggregates)
    fw = bigrams.groupBy("h1").agg(
        F.count("*").alias("c1"), F.countDistinct("h12").alias("n_fw")
    )
    types = bigrams.select("h12", "h2").distinct()
    bw = types.groupBy("h2").agg(F.count("*").alias("n_bw"))
    n_types = bw.agg(F.sum("n_bw").alias("n_types"))
    p = (
        F.greatest(F.col("c12") - F.lit(_KN_D), F.lit(0.0))
        + F.lit(_KN_D) * F.col("n_fw") * F.col("n_bw") / F.col("n_types")
    ) / F.col("c1")
    scored = (
        bigrams.join(c12, "h12")
        .join(fw, "h1")
        .join(bw, "h2")
        .crossJoin(F.broadcast(n_types))
        .withColumn("p", p)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg(F.log("p")), 4).alias("avg_kn_logprob"),
    )


ORACLE_KN_BIGRAM = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents
  WHERE len(string_split_regex(text, ' +')) >= 2
),
bigrams AS MATERIALIZED (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM toks)
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2),
fw AS (SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n_fw
       FROM bigrams GROUP BY 1),
types AS MATERIALIZED (SELECT DISTINCT w1, w2 FROM bigrams),
bw AS (SELECT w2, count(*) AS n_bw FROM types GROUP BY 1),
nt AS (SELECT count(*) AS n_types FROM types)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(
         (greatest(c12 - {_KN_D}, 0.0)
          + {_KN_D} * n_fw * n_bw / n_types) / c1)), 4) AS avg_kn_logprob
FROM bigrams b
JOIN c12 USING (w1, w2)
JOIN fw USING (w1)
JOIN bw USING (w2)
CROSS JOIN nt
GROUP BY b.doc_id
"""


QUERIES = {
    "doc_heavy_hitters": q_doc_heavy_hitters,
    "doc_tokenizer_fertility": q_doc_tokenizer_fertility,
    "doc_kn_bigram_lm": q_doc_kn_bigram_lm,
    "doc_token_stats": q_doc_token_stats,
    "doc_phrase_search": q_doc_phrase_search,
    "doc_token_entropy": q_doc_token_entropy,
    "doc_mmr_rerank": q_doc_mmr_rerank,
    "doc_collapse_repeats": q_doc_collapse_repeats,
    "doc_hybrid_rrf": q_doc_hybrid_rrf,
    "doc_bm25_topk": q_doc_bm25_topk,
    "doc_retrieval_ndcg": q_doc_retrieval_ndcg,
    "doc_dup_ngram_fraction": q_doc_dup_ngram_fraction,
    "doc_quality_filter_verdict": q_doc_quality_filter_verdict,
    "doc_bpe_merges": q_doc_bpe_merges,
    "doc_bpe_encode": q_doc_bpe_encode,
    "doc_zipf_fit": q_doc_zipf_fit,
    "doc_heaps_law": q_doc_heaps_law,
    "doc_hapax_ratio": q_doc_hapax_ratio,
    "doc_length_histogram": q_doc_length_histogram,
    "doc_bigram_pmi": q_doc_bigram_pmi,
    "doc_bigram_logprob": q_doc_bigram_logprob,
    "doc_quality_score": q_doc_quality_score,
    "doc_lang_id": q_doc_lang_id,
    "doc_lang_confusion": q_doc_lang_confusion,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_token_regex": q_doc_token_regex,
    "doc_tfidf_top_terms": q_doc_tfidf_top_terms,
    "doc_chunk_windows": q_doc_chunk_windows,
    "doc_repetition_stats": q_doc_repetition_stats,
    "doc_stratified_sample": q_doc_stratified_sample,
    "doc_pack_sequences": q_doc_pack_sequences,
    "doc_pii_scrub": q_doc_pii_scrub,
    "doc_fleiss_kappa": q_doc_fleiss_kappa,
    "doc_lang_calibration": q_doc_lang_calibration,
    "doc_toxicity_lexicon": q_doc_toxicity_lexicon,
}

ORACLES = {
    "doc_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "doc_tokenizer_fertility": ORACLE_FERTILITY,
    "doc_kn_bigram_lm": ORACLE_KN_BIGRAM,
    "doc_hybrid_rrf": ORACLE_HYBRID_RRF,
    "doc_collapse_repeats": ORACLE_COLLAPSE_REPEATS,
    "doc_token_stats": ORACLE_TOKEN_STATS,
    "doc_phrase_search": ORACLE_PHRASE_SEARCH,
    "doc_token_entropy": ORACLE_TOKEN_ENTROPY,
    "doc_mmr_rerank": ORACLE_MMR,
    "doc_bm25_topk": ORACLE_BM25,
    "doc_retrieval_ndcg": ORACLE_RETRIEVAL_NDCG,
    "doc_dup_ngram_fraction": ORACLE_DUP_NGRAM,
    "doc_quality_filter_verdict": ORACLE_QUALITY_FILTER,
    "doc_bpe_merges": ORACLE_BPE,
    "doc_bpe_encode": ORACLE_BPE_ENCODE,
    "doc_zipf_fit": ORACLE_ZIPF,
    "doc_heaps_law": ORACLE_HEAPS,
    "doc_hapax_ratio": ORACLE_HAPAX,
    "doc_length_histogram": ORACLE_LENGTH_HIST,
    "doc_bigram_pmi": ORACLE_PMI,
    "doc_bigram_logprob": ORACLE_BIGRAM_LL,
    "doc_quality_score": ORACLE_QUALITY,
    "doc_lang_id": ORACLE_LANG_ID,
    "doc_lang_confusion": ORACLE_LANG_CONFUSION,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "doc_token_regex": ORACLE_TOKEN_REGEX,
    "doc_tfidf_top_terms": ORACLE_TFIDF,
    "doc_chunk_windows": ORACLE_CHUNKS,
    "doc_repetition_stats": ORACLE_REPETITION,
    "doc_stratified_sample": ORACLE_STRATIFIED,
    "doc_pack_sequences": ORACLE_PACK,
    "doc_pii_scrub": ORACLE_PII,
    "doc_fleiss_kappa": ORACLE_FLEISS_KAPPA,
    "doc_lang_calibration": ORACLE_LANG_CALIBRATION,
    "doc_toxicity_lexicon": ORACLE_TOXICITY,
}
