"""Text-analysis suite (north star: language-ID, quality scoring,
token counting, fingerprinting over the documents table).

The reference's only text op is the chunker (/root/reference/
main.py:118-126); a training-data pipeline needs per-document signals
to filter and route text at corpus scale. Every op here is a narrow
per-row expression — zero shuffle, full codegen — which is the only
acceptable shape for a 100 TB pre-filter pass.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex_to_u32_sql, sha_hash32, sha_hash32_sql
from ..functions.numeric import davg, davg_sql
from ..registry import register
from ..sources.readers import load_table, per_doc_map, spread_input

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

_LANG_RULES = (
    # (lang, marker words) — naive stopword voting; CJK handled by regex
    ("de", ("der", "und", "das", "ist", "nicht")),
    ("fr", ("le", "la", "et", "les", "une")),
    ("es", ("el", "los", "que", "una", "por")),
)


@register(
    "text_quality_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks), 6)
               AS avg_token_len,
           round(CAST(len(list_filter(toks, t -> list_contains(
                 {list(STOPWORDS)!r}, t))) AS DOUBLE) / len(toks), 6)
               AS stopword_ratio,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
               AS uniq_ratio
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM documents
          WHERE length(trim(text)) > 0)
    ORDER BY doc_id
    """,
    tags=("textops",),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token counts, average token length, stopword
    ratio, lexical diversity — the standard cheap filters (C4/Gopher
    style) run before any model-based scoring."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", "text", toks.alias("toks"))
    n_tokens = F.size("toks")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens,
            6,
        ).alias("avg_token_len"),
        F.round(
            F.size(
                F.filter(
                    F.col("toks"),
                    lambda t: F.array_contains(
                        F.array(*[F.lit(s) for s in STOPWORDS]), t
                    ),
                )
            ).cast("double")
            / n_tokens,
            6,
        ).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct("toks")).cast("double") / n_tokens, 6).alias(
            "uniq_ratio"
        ),
    ).orderBy("doc_id")


def _langid_sql() -> str:
    votes = []
    for lang, words in _LANG_RULES:
        clauses = " + ".join(
            f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END" for w in words
        )
        votes.append(f"({clauses}) AS v_{lang}")
    vote_cols = ",\n               ".join(votes)
    return f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
             WHEN v_de > v_fr AND v_de > v_es AND v_de > 0 THEN 'de'
             WHEN v_fr > v_es AND v_fr > 0 THEN 'fr'
             WHEN v_es > 0 THEN 'es'
             ELSE 'en'
           END AS predicted_lang
    FROM (
        SELECT doc_id, lang, text, {vote_cols}
        FROM (SELECT doc_id, lang, text,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents)
    )
    ORDER BY doc_id
    """


@register("text_langid", oracle=_langid_sql(), tags=("textops",))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK codepoint regex, then stopword
    voting per candidate language, default 'en'. The deterministic
    tier of a langid cascade — route the ambiguous remainder to a
    model-based classifier (pandas_udf slot) at scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", "lang", "text", toks.alias("toks"))
    votes = {}
    for lang, words in _LANG_RULES:
        v = F.lit(0)
        for w in words:
            v = v + F.when(F.array_contains(F.col("toks"), w), 1).otherwise(0)
        votes[lang] = v
    pred = (
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(
            (votes["de"] > votes["fr"]) & (votes["de"] > votes["es"]) & (votes["de"] > 0),
            "de",
        )
        .when((votes["fr"] > votes["es"]) & (votes["fr"] > 0), "fr")
        .when(votes["es"] > 0, "es")
        .otherwise("en")
    )
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    ).orderBy("doc_id")


@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_est_llm_tokens
    FROM documents
    WHERE length(trim(text)) > 0
    ORDER BY doc_id
    """,
    tags=("textops",),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces
    (letter runs / digit runs / punctuation), and the chars/4 LLM
    budget estimate — the bookkeeping columns of a training corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
        F.regexp_count(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
        ).alias("n_bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_est_llm_tokens"),
    ).orderBy("doc_id")


_ROLLHASH_EXPR = """
    aggregate(
        transform(sequence(1, length({col})), i -> ascii(substr({col}, i, 1))),
        0L,
        (acc, c) -> (acc * 31 + c) % 2147483647)
"""

_ROLLHASH_SQL = """
    list_reduce(
        list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, length({col})),
                           i -> CAST(ascii(substr({col}, i, 1)) AS BIGINT))),
        (acc, c) -> (acc * 31 + c) % 2147483647)
"""


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {_ROLLHASH_SQL.format(col="text")} AS full_hash,
           {_ROLLHASH_SQL.format(col="substr(text, 1, 64)")} AS prefix_hash
    FROM documents
    WHERE length(text) > 0
    ORDER BY doc_id
    """,
    tags=("textops",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint (Rabin-Karp base 31 mod 2^31-1)
    over full text and a 64-char prefix — prefix-collision grouping is
    a cheap boilerplate detector. Pure integer fold, bit-identical on
    every engine."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return docs.select(
        "doc_id",
        F.expr(_ROLLHASH_EXPR.format(col="text")).alias("full_hash"),
        F.expr(_ROLLHASH_EXPR.format(col="substr(text, 1, 64)")).alias("prefix_hash"),
    ).orderBy("doc_id")


@register(
    "pipeline_corpus_curation",
    oracle="""
    WITH stats AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
               CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS DOUBLE)
                 / len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS uniq_ratio,
               sha256(text) AS content_sha
        FROM documents
        WHERE length(trim(text)) > 0
    ),
    quality AS (
        SELECT * FROM stats WHERE n_tokens >= 20 AND uniq_ratio >= 0.3
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY content_sha ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum((n_chars - 1) // 800 + 1) AS BIGINT) AS total_chunks,
           CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS total_est_tokens
    FROM deduped
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("textops", "pipeline"),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data ops COMPOSED as one curation pipeline: quality
    filter (token count + lexical diversity) → exact dedup
    (keep-first per content digest) → per-language corpus budget
    (docs, chunk counts via the 1000/800 chunker formula, chars/4
    token estimate). One narrow pass + one digest shuffle + one
    aggregate — the shape of a real 100 TB pre-training data job."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    stats = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )
    quality = stats.filter((F.col("n_tokens") >= 20) & (F.col("uniq_ratio") >= 0.3))
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    n_chunks = F.floor((F.col("n_chars") - 1) / 800) + 1
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_chunks).cast("long").alias("total_chunks"),
            F.sum(F.ceil(F.col("n_chars") / 4.0).cast("long"))
            .cast("long")
            .alias("total_est_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents WHERE length(trim(text)) > 0),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
        WHERE tf.doc_id % 100 = 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, token) AS rn
        FROM scored
    )
    SELECT doc_id, token, tf, df, tfidf, rn
    FROM ranked WHERE rn <= 3
    ORDER BY doc_id, rn
    """,
    tags=("textops",),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF entirely in SQL (tf per doc ⋈ corpus document-frequency ⋈
    corpus size): top-3 distinguishing terms per sampled doc. Two
    aggregates + one broadcast-sized join — the exact-oracle twin of
    the MLlib HashingTF/IDF pipeline (suites/mllib.py)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 100 == 0)
        # no broadcast hint on df: the token-vocabulary grows with the
        # corpus (unbounded at 100 TB) — AQE picks the join strategy
        .join(df, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


@register(
    "text_topk_tokens_per_lang",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0
    ),
    counts AS (
        SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn
        FROM counts
    )
    SELECT lang, token, n, rn FROM ranked WHERE rn <= 5
    ORDER BY lang, rn
    """,
    tags=("textops",),
)
def text_topk_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-5 tokens per language bucket —
    explode → two-level aggregate → ranking window. The map-side
    partial aggregate absorbs the explosion before the shuffle."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
    )
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "token")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("lang", "rn")
    )


@register(
    "text_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token,
               doc_id
        FROM documents WHERE length(trim(text)) > 0
    ),
    postings AS (
        SELECT token, count(*) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
        FROM tok GROUP BY token
    )
    SELECT token, df, posting FROM postings
    WHERE df BETWEEN 3 AND 400
    ORDER BY token
    """,
    tags=("textops", "index"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (token → sorted doc-id posting list): the
    search-engine artifact behind keyword retrieval, as one explode →
    distinct → ordered collect. Mid-frequency tokens only (3 ≤ df ≤ 400)
    — stopword-grade postings belong in a separate hot tier. At 100 TB
    the index table is bucketed by token so lookups touch one bucket
    and posting merges co-locate; posting lists are delta-encoded
    (sorted ids compress ~10×)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"),
        "doc_id",
    ).distinct()
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting"),
        )
        .filter((F.col("df") >= 3) & (F.col("df") <= 400))
        .orderBy("token")
    )


@register(
    "text_char_bigram_lm",
    headline=True,
    oracle=f"""
    WITH d AS (
        SELECT doc_id, trim(lower(text)) AS t FROM documents
        WHERE length(trim(text)) >= 2
    ),
    grams AS (
        SELECT doc_id, substr(t, i, 2) AS bg, substr(t, i, 1) AS pre
        FROM d, unnest(range(1, length(t))) AS u(i)
    ),
    bg_counts AS (SELECT bg, count(*) AS n_bg FROM grams GROUP BY bg),
    pre_counts AS (SELECT pre, count(*) AS n_pre FROM grams GROUP BY pre),
    scored AS (
        SELECT g.doc_id,
               round(ln(CAST(b.n_bg AS DOUBLE) / c.n_pre), 6) AS logp
        FROM grams g
        JOIN bg_counts b USING (bg)
        JOIN pre_counts c USING (pre)
    )
    SELECT doc_id, round({davg_sql('logp')}, 6) AS avg_logp,
           count(*) AS n_grams
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("textops", "quality"),
)
def text_char_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-model scoring (KenLM-style perplexity
    filter, self-trained on the corpus): P(c2|c1) = count(c1c2) /
    count(c1·), per-doc mean log-probability. Gibberish and wrong-
    charset docs score low — the classic cheap quality gate before
    model-based filtering. Two hash aggs build the model; scoring
    re-joins it (both sides broadcast: the model is |alphabet|² rows).
    Per-doc mean uses the exact decimal-sum path so the score is
    bit-stable at any parallelism (logp rounded to 6dp first — libm ln
    is engine-comparable only to ~1e-15)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) >= 2)
        .select("doc_id", F.trim(F.lower(F.col("text"))).alias("t"))
        # single-file parquet = 1 split; spread docs before the ~100×
        # bigram explode so the fan-out stages use every core
        .transform(spread_input, sf_dir, "documents")
    )
    # outer-explode: the array is non-empty (length >= 2 filter), and
    # plain explode's implicit size>0 filter would be pushed below the
    # repartition, re-running the bigram transform serially at the
    # scan. Persist: three branches (bigram counts, prefix counts,
    # scoring) read this frame.
    grams = d.select(
        "doc_id",
        F.explode_outer(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("bg"),
    ).withColumn("pre", F.substring("bg", 1, 1)).persist()
    bg_counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bg"))
    pre_counts = grams.groupBy("pre").agg(F.count(F.lit(1)).alias("n_pre"))
    scored = (
        grams.join(F.broadcast(bg_counts), "bg")
        .join(F.broadcast(pre_counts), "pre")
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n_bg").cast("double") / F.col("n_pre")), 6
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(davg(F.col("logp")), 6).alias("avg_logp"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_pii_scrub",
    oracle="""
    SELECT doc_id,
           length(regexp_extract_all(lower(text),
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+')) AS n_emails,
           length(regexp_extract_all(text, '[0-9]{6,}')) AS n_long_numbers,
           length(regexp_replace(
                    regexp_replace(lower(text),
                        '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
                    '[0-9]{6,}', '<NUM>', 'g')) AS scrubbed_len
    FROM documents
    WHERE length(trim(text)) > 0
    ORDER BY doc_id
    """,
    tags=("textops", "privacy"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (training-data hygiene): count and redact
    email addresses and long digit runs (IDs/phones) with conservative
    character-class regexes — patterns chosen to behave identically
    under Java regex (Spark) and RE2 (DuckDB); no backrefs, no
    lookaround. Pure per-row codegen: at 100 TB this rides the same
    scan as the other quality signals, and the redacted text is written
    once (never recompute on read)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+"
    longnum = r"[0-9]{6,}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), email, "<EMAIL>"),
        longnum,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.lower(F.col("text")), F.lit(email)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(longnum)).alias("n_long_numbers"),
        F.length(scrubbed).alias("scrubbed_len"),
    ).orderBy("doc_id")


@register(
    "text_repetition_stats",
    oracle="""
    WITH base AS (
        SELECT doc_id, text,
               string_split(text, chr(10)) AS lines,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
        WHERE length(trim(text)) > 0
          AND len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                      j -> toks[j] || ' ' || toks[j+1])) AS gram
        FROM base
    ),
    gram_counts AS (
        SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram
    ),
    per_doc AS (
        SELECT doc_id, max(n) AS top_bigram_n,
               CAST(sum(n) AS BIGINT) AS n_bigrams
        FROM gram_counts GROUP BY doc_id
    )
    SELECT b.doc_id,
           len(b.lines) AS n_lines,
           round(1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
                     / len(b.lines), 6) AS dup_line_ratio,
           p.top_bigram_n,
           p.n_bigrams,
           round(CAST(p.top_bigram_n AS DOUBLE) / p.n_bigrams, 6)
               AS top_bigram_frac
    FROM base b JOIN per_doc p USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("textops", "quality"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters in the Gopher/MassiveText style: duplicate-
    line ratio and the fraction of the document occupied by its most
    frequent word bigram — the signals that catch boilerplate and
    degenerate generated text. Everything is a per-row array fold — the
    top-bigram count runs over the SORTED gram array (equal grams
    become adjacent, so one linear fold finds the longest run), making
    the whole operator zero-shuffle full-codegen: the only acceptable
    shape for a 100 TB pre-filter pass."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    # single-file fixture = one input split; spread rows before the
    # gram explode fans out (same lesson as text_char_bigram_lm)
    docs = docs.transform(spread_input, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id",
        F.split(F.col("text"), "\n").alias("lines"),
        toks.alias("toks"),
    ).filter(F.size("toks") >= 2)

    grams_sorted = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda j: F.concat_ws(" ", F.col("toks")[j], F.col("toks")[j + 1]),
        )
    )
    # Longest run of equal adjacent grams in the sorted array == the
    # max bigram frequency; one linear fold, no explode, no shuffle.
    run_fold = F.aggregate(
        grams_sorted,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.getField("best"),
                F.when(g == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
    )
    return (
        base.withColumn("grams", grams_sorted)
        .withColumn("top_bigram_n", run_fold.getField("best"))
        .withColumn("n_bigrams", F.size("grams").cast("long"))
        .select(
            "doc_id",
            F.size("lines").alias("n_lines"),
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("lines")).cast("double")
                / F.size("lines"),
                6,
            ).alias("dup_line_ratio"),
            "top_bigram_n",
            "n_bigrams",
            F.round(
                F.col("top_bigram_n").cast("double") / F.col("n_bigrams"), 6
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


CONTAM_N = 4  # benchmark-overlap n-gram width (13 is typical; 4 fits fixtures)


@register(
    "text_contamination_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - {CONTAM_N - 1}),
                   j -> array_to_string(t[j:j+{CONTAM_N - 1}], ' ')))) AS gram
        FROM toks WHERE len(t) >= {CONTAM_N}
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM grams WHERE doc_id % 97 <> 0)
    SELECT train.doc_id, count(DISTINCT train.gram) AS n_shared_grams
    FROM train JOIN bench USING (gram)
    GROUP BY train.doc_id
    ORDER BY train.doc_id
    """,
    tags=("textops", "quality"),
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which training documents share a
    word {CONTAM_N}-gram with the held-out set (doc_id % 97 == 0 stands
    in for the benchmark corpus). The decisive property at 100 TB: the
    benchmark gram set is tiny relative to the corpus, so it BROADCASTS
    and the train side never shuffles — contamination checking costs
    one scan."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    docs = docs.transform(spread_input, sf_dir, "documents")
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    with_toks = docs.select("doc_id", t.alias("t")).filter(
        F.size("t") >= CONTAM_N
    )
    grams = with_toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - CONTAM_N),
                    lambda j: F.concat_ws(
                        " ", *[F.col("t")[j + i] for i in range(CONTAM_N)]
                    ),
                )
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


@register(
    "sample_stratified_sources",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
        FROM documents
    )
    SELECT doc_id, source, rn FROM ranked WHERE rn <= 20
    ORDER BY source, rn
    """,
    tags=("textops", "sampling"),
)
def sample_stratified_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified domain sampling: a fixed quota per source (domain
    mixing for training-data curation), deterministic via md5-of-key
    ordering so every engine and every rerun draws the same sample.
    One shuffle on source; at 100 TB the window is per-source and the
    md5 sort order prevents any time/ingest-order bias in the draw."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", "rn")
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------------------
# BM25 keyword ranking — the sparse half of hybrid retrieval.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("merge", "batch", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_comp_sql(i: int) -> str:
    """One query-term's BM25 contribution, op-for-op the Spark column
    (ln rounded to 6 before use; all operands explicitly DOUBLE)."""
    tf = f"CAST(tf_{i} AS DOUBLE)"
    idf = (
        f"round(ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0), 6)"
    )
    denom = (
        f"({tf} + CAST({_BM25_K1} AS DOUBLE) * (CAST(1.0 AS DOUBLE)"
        f" - CAST({_BM25_B} AS DOUBLE) + CAST({_BM25_B} AS DOUBLE)"
        f" * CAST(dl AS DOUBLE) / avgdl))"
    )
    return f"({idf} * ({tf} * CAST({_BM25_K1 + 1.0} AS DOUBLE)) / {denom})"


@register(
    "search_bm25",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, len(toks) AS dl,
               {", ".join(
                   f"len(list_filter(toks, t -> t = '{t}')) AS tf_{i}"
                   for i, t in enumerate(_BM25_TERMS)
               )}
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents WHERE length(trim(text)) > 0
        )
    ),
    stats AS (
        SELECT count(*) AS n_docs, {davg_sql("CAST(dl AS DOUBLE)")} AS avgdl,
               {", ".join(
                   f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                   for i in range(len(_BM25_TERMS))
               )}
        FROM feat
    )
    SELECT doc_id, dl,
           {", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))},
           round({" + ".join(
               _bm25_comp_sql(i) for i in range(len(_BM25_TERMS))
           )}, 6) AS score
    FROM feat CROSS JOIN stats
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    tags=("textops", "search"),
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the sparse scorer that
    pairs with dense cosine in hybrid search (search_hybrid_rrf fuses
    ranks; this is the principled keyword side the reference's
    Pinecone-only path lacks, main.py:176-216).

    Scale shape: per-doc term frequencies come from one codegen'd pass
    over the token array (no explode, no posting-list shuffle); the
    corpus stats (N, avgdl, per-term df) collapse to ONE broadcast row,
    so scoring is map-side and the only cross-partition work is the
    top-k heap merge (TakeOrderedAndProject). df/avgdl use exact
    decimal sums; ln() is rounded to 6 before use so JVM and libm
    disagree nowhere downstream."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")

    def tf_col(term: str):
        # single-arg lambda: a 2-arg HOF lambda would be (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    feat = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_col(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum(
                F.when(F.col(f"tf_{i}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def comp(i: int):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.round(
            F.log(
                (F.col("n_docs").cast("double")
                 - F.col(f"df_{i}").cast("double") + F.lit(0.5))
                / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            ),
            6,
        )
        denom = tf + F.lit(_BM25_K1) * (
            F.lit(1.0) - F.lit(_BM25_B)
            + F.lit(_BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf * (tf * F.lit(_BM25_K1 + 1.0)) / denom

    score = comp(0)
    for i in range(1, len(_BM25_TERMS)):
        score = score + comp(i)
    return (
        feat.crossJoin(F.broadcast(stats))
        .select(
            "doc_id", "dl",
            *[f"tf_{i}" for i in range(len(_BM25_TERMS))],
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Token-window chunking — the training-pipeline sibling of the
# reference's char-window chunker (O3 is 1000 chars / 800 stride;
# context windows are budgeted in TOKENS).
# ---------------------------------------------------------------------------

_TOKCHUNK_W = 128  # window size in tokens
_TOKCHUNK_S = 96   # stride (32-token overlap)


@register(
    "chunk_tokens_window",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0
    ),
    win AS (
        SELECT doc_id,
               CAST((s - 1) // {_TOKCHUNK_S} AS BIGINT) AS pos,
               array_to_string(toks[s : s + {_TOKCHUNK_W} - 1], ' ')
                   AS chunk_text,
               CAST(least({_TOKCHUNK_W}, len(toks) - s + 1) AS BIGINT)
                   AS n_tokens
        FROM d, unnest(generate_series(1, len(toks), {_TOKCHUNK_S})) AS t(s)
    )
    SELECT doc_id, pos,
           CAST(doc_id AS VARCHAR) || '_' || CAST(pos AS VARCHAR) AS chunk_id,
           n_tokens, chunk_text
    FROM win
    ORDER BY doc_id, pos
    """,
    headline=True,  # r5: bench-tracked — the token-budget chunk path
    tags=("textops", "chunking", "curation"),
)
def chunk_tokens_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking: overlapping {_TOKCHUNK_W}-token windows at
    a {_TOKCHUNK_S}-token stride — the context-window-budgeted sibling
    of the reference's char chunker (main.py:118-126 is 1000 chars/800
    stride; training pipelines budget in tokens). Chunk ids follow the
    reference's `{{doc}}_{{ordinal}}` convention.

    Scale shape: identical to the char chunker — one narrow map stage
    (split → window starts → slice), zero shuffle; the window
    arithmetic is a per-row `transform` over a `sequence`, entirely in
    codegen. Tail windows are short, never dropped; token counts are
    exact integers on both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(1), F.size("toks"), F.lit(_TOKCHUNK_S)
    )
    win = d.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.explode(starts).alias("s"),
        F.col("toks"),
    ).select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_TOKCHUNK_S} AS BIGINT)").alias("pos"),
        F.concat_ws(" ", F.slice(F.col("toks"), F.col("s"), F.lit(_TOKCHUNK_W)))
        .alias("chunk_text"),
        F.least(F.lit(_TOKCHUNK_W), F.col("n") - F.col("s") + 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    return win.select(
        "doc_id",
        "pos",
        F.concat_ws("_", F.col("doc_id").cast("string"), F.col("pos").cast("string"))
        .alias("chunk_id"),
        "n_tokens",
        "chunk_text",
    ).orderBy("doc_id", "pos")


# ---------------------------------------------------------------------------
# Sequence packing — distributed prefix sum over the token budget.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence (pack)
_PACK_BUCKETS = 16  # prefix-sum fan-out (≈ partition count at deployment)


@register(
    "pack_sequences_token_budget",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
        FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    ),
    p AS (
        -- CAST: DuckDB integer sums/divs widen to HUGEINT, which the
        -- driver's fetch path stringifies float-style ("53.0") against
        -- Spark's bigint "53" — r03 hash-fail class.
        SELECT doc_id, n_tokens,
               CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
        FROM c
    )
    SELECT pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM p GROUP BY pack_id ORDER BY pack_id
    """,
    tags=("textops", "curation"),
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents fill fixed token-budget
    packs in deterministic doc_id order (a doc belongs to the pack
    where its first token lands; production splits the straddling doc).
    The primitive is a GLOBAL running token count — the one operation a
    naive plan computes with a partition-less window, which serializes
    the whole corpus through one task.

    Here it is the distributed two-pass prefix sum: a closed-form
    splitter (doc_id × B / (max+1)) buckets rows without sampling, pass
    1 cumsums WITHIN each bucket (window keyed on bucket — parallel),
    pass 2 cumsums the B per-bucket totals (B rows, driver-scale) and
    broadcasts the offsets back. Shuffle cost: one hash exchange on
    bucket + one broadcast of B rows, at ANY corpus size; the oracle is
    the plain global-window cumsum, proving the decomposition exact.
    Integer token counts make every sum order-independent."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    mx = d.agg(F.max("doc_id").alias("max_id"))
    b = d.crossJoin(F.broadcast(mx)).withColumn(
        "bucket",
        F.floor(
            F.col("doc_id") * F.lit(_PACK_BUCKETS) / (F.col("max_id") + 1)
        ),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("lcum", F.sum("n_tokens").over(w_local))
    w_off = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("btok"))
        # partition-less window is safe here: B rows, not the corpus
        .withColumn("offset", F.coalesce(F.sum("btok").over(w_off), F.lit(0)))
        .select("bucket", "offset")
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .withColumn("cum", F.col("lcum") + F.col("offset"))
        .withColumn(
            "pack_id",
            F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}"),
        )
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


# ---------------------------------------------------------------------------
# Domain mixture weighting — temperature-scaled source sampling.
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3     # temperature: 1.0 = proportional, 0 = uniform
_MIX_BUDGET = 10000  # docs in the sampled training mix


@register(
    "curation_mixture_weights",
    oracle=f"""
    WITH per_src AS (
        -- CAST: sum() would widen to HUGEINT (driver fetches that
        -- float-style — r03 hash-fail class)
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(lower(text)),
                                                  '\\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents WHERE length(trim(text)) > 0
        GROUP BY source
    ),
    raw AS (
        SELECT *, round(exp(CAST({_MIX_ALPHA} AS DOUBLE)
                            * ln(CAST(n_tokens AS DOUBLE))), 6) AS w_raw
        FROM per_src
    ),
    tot AS (
        SELECT CAST(sum(CAST(w_raw AS DECIMAL(30,8))) AS DOUBLE) AS w_tot
        FROM raw
    )
    SELECT source, n_docs, n_tokens,
           round(w_raw / w_tot, 6) AS weight,
           CAST(floor(round(w_raw / w_tot, 6) * {_MIX_BUDGET}) AS BIGINT)
               AS target_docs
    FROM raw CROSS JOIN tot
    ORDER BY source
    """,
    tags=("textops", "curation"),
)
def curation_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual/multi-source
    sampling rule w_s ∝ size_s^α): α < 1 upsamples small domains so the
    training mix is not dominated by the largest crawl. Output is the
    per-source sampling weight and its doc budget — the driver table
    for `sample_stratified_sources`-style quota draws.

    Scale shape: one partial+final aggregate over (source), then a
    single broadcast row for the normalizer — no second pass over the
    corpus, no collect. exp/ln are rounded to 6 before the normalizing
    sum (decimal-exact) so JVM and libm ulp drift cannot reach any
    output column."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("n_tokens"),
    )
    raw = per_src.withColumn(
        "w_raw",
        F.round(
            F.exp(F.lit(_MIX_ALPHA) * F.log(F.col("n_tokens").cast("double"))),
            6,
        ),
    )
    tot = raw.agg(
        F.sum(F.col("w_raw").cast("decimal(30,8)"))
        .cast("double")
        .alias("w_tot")
    )
    weight = F.round(F.col("w_raw") / F.col("w_tot"), 6)
    return (
        raw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            weight.alias("weight"),
            F.floor(weight * F.lit(_MIX_BUDGET))
            .cast("long")
            .alias("target_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring: unigram-LM negative log-likelihood.
# CCNet / Gopher / RefinedWeb all gate documents on LM perplexity; the
# distributed skeleton (train token stats on the corpus, score every
# doc against them, flag the worse-than-average tail) is identical for
# a real KenLM — only the probability table changes.
# ---------------------------------------------------------------------------


@register(
    "text_perplexity_score",
    headline=True,
    oracle="""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ), ex AS (
        SELECT doc_id, unnest(t) AS tok FROM d
    ), vocab AS (
        SELECT tok, count(*) AS c FROM ex GROUP BY tok
    ), tot AS (
        SELECT sum(c) AS total FROM vocab
    ), lp AS (
        SELECT tok, c,
               CAST(round(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                          * 1000000) AS BIGINT) AS lp_micro
        FROM vocab CROSS JOIN tot
    ), per_doc AS (
        SELECT e.doc_id,
               count(*) AS n_tokens,
               sum(l.lp_micro) AS nll_micro
        FROM ex e JOIN lp l ON e.tok = l.tok
        GROUP BY e.doc_id
    ), corpus AS (
        SELECT round(CAST(-sum(c * lp_micro) AS DOUBLE)
                     / (CAST((SELECT total FROM tot) AS DOUBLE) * 1000000.0),
                     6) AS corpus_nll
        FROM lp
    )
    SELECT doc_id, n_tokens,
           CAST(-nll_micro AS BIGINT) AS nll_micro,
           round(CAST(-nll_micro AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * 1000000.0), 6) AS avg_neg_logp,
           CAST(CASE WHEN round(CAST(-nll_micro AS DOUBLE)
                     / (CAST(n_tokens AS DOUBLE) * 1000000.0), 6)
                     > (SELECT corpus_nll FROM corpus)
                THEN 1 ELSE 0 END AS INT) AS low_quality
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def text_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality gate: train token frequencies on the corpus,
    score each document by average negative log-probability, flag docs
    scoring worse than the corpus-wide per-token mean (CCNet keeps the
    best-perplexity tercile; the threshold here is the exact mean so
    the oracle stays closed-form).

    Determinism: log-probs are rounded to integer micro-nats BEFORE
    any aggregation, so every sum is an exact bigint — order- and
    partition-count-independent (Java vs C libm ln differences die at
    the 1e-6 round). Scale shape: two shuffles (token counts, per-doc
    regroup) plus one broadcast of the single-row total; the
    vocab-to-token join hash-partitions on the token, and the Zipf
    head (e.g. 'the') is bounded by per-partition partial aggregation
    before the shuffle on the count side, while the scoring side is a
    join whose skew AQE splits."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    docs = docs.transform(spread_input, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # outer-explode (array non-empty under the text filter): plain
    # explode's pushed size>0 filter re-runs the split below the
    # repartition. No persist — re-splitting is cheaper than caching
    # the exploded token frame (measured both ways)
    ex = docs.select("doc_id", F.explode_outer(toks).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("total"))
    lp = vocab.crossJoin(F.broadcast(tot)).withColumn(
        "lp_micro",
        F.round(
            F.log(F.col("c").cast("double") / F.col("total").cast("double"))
            * 1000000,
            0,
        ).cast("bigint"),
    )
    per_doc = (
        ex.join(lp.select("tok", "lp_micro"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp"),
        )
    )
    corpus = (
        lp.agg(
            F.sum(F.col("c") * F.col("lp_micro")).alias("corpus_lp"),
            F.first("total").alias("total"),
        )
        .select(
            F.round(
                (-F.col("corpus_lp")).cast("double")
                / (F.col("total").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("corpus_nll")
        )
    )
    avg_nll = F.round(
        (-F.col("sum_lp")).cast("double")
        / (F.col("n_tokens").cast("double") * F.lit(1000000.0)),
        6,
    )
    return (
        per_doc.crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "n_tokens",
            (-F.col("sum_lp")).alias("nll_micro"),
            avg_nll.alias("avg_neg_logp"),
            (avg_nll > F.col("corpus_nll")).cast("int").alias("low_quality"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-epoch global shuffle: assign every document a deterministic
# pseudorandom global rank, then cut fixed-size shards. The naive plan
# (row_number over a global ORDER BY) is a partition-less window; the
# engine uses the same bucket-prefix-sum decomposition as sequence
# packing so the shuffle order is computed distributedly.
# ---------------------------------------------------------------------------

_SHARD_SIZE = 64


@register(
    "curation_shard_assignment",
    oracle=f"""
    WITH r AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                   AS global_rank
        FROM documents
    )
    SELECT doc_id, global_rank,
           global_rank // {_SHARD_SIZE} AS shard_id,
           global_rank % {_SHARD_SIZE} AS pos
    FROM r ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def curation_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training: md5-of-key is the
    pseudorandom order (identical on every engine and rerun), each doc
    gets a global rank, and ranks cut into fixed-size shards — the
    shard files a dataloader streams.

    Scale shape: the global rank is a two-pass prefix sum, not a
    partition-less window — rank within one of 256 md5-prefix buckets
    (parallel window), then per-bucket offsets (a 256-row cumsum)
    broadcast back. Identical topology to pack_sequences_token_budget;
    at 100 TB the bucket count rises with the cluster, the offset
    table stays tiny, and no stage sees the corpus in one task."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
    ).withColumn("bucket", F.conv(F.substring("k", 1, 2), 16, 10).cast("int"))
    from pyspark.sql.window import Window

    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(wb))
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    # 256-row bounded cumsum: the only partition-less window, over the
    # bucket table, never the corpus
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(wo), F.lit(0))
    ).select("bucket", "off")
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .withColumn("global_rank", F.col("off") + F.col("rn") - 1)
        .select(
            "doc_id",
            "global_rank",
            F.floor(F.col("global_rank") / _SHARD_SIZE).alias("shard_id"),
            (F.col("global_rank") % _SHARD_SIZE).alias("pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Capstone: the full training-data export manifest in one plan —
# heuristic quality gate → exact dedup (keep-first) → LM perplexity
# gate → deterministic shard assignment. This is the job a 100 TB
# corpus runs nightly; every stage is individually oracle-verified
# above, and this query verifies their composition.
# ---------------------------------------------------------------------------

_EXPORT_MIN_TOKENS = 10


@register(
    "pipeline_training_export",
    headline=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, trim(lower(text)) AS norm,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ), quality AS (
        SELECT doc_id, norm, t, len(t) AS n_tokens
        FROM base WHERE len(t) >= {_EXPORT_MIN_TOKENS}
    ), deduped AS (
        SELECT doc_id, t, n_tokens FROM (
            SELECT doc_id, t, n_tokens,
                   row_number() OVER (PARTITION BY sha256(norm)
                                      ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ), ex AS (
        SELECT doc_id, unnest(t) AS tok FROM deduped
    ), vocab AS (
        SELECT tok, count(*) AS c FROM ex GROUP BY tok
    ), tot AS (SELECT sum(c) AS total FROM vocab),
    lp AS (
        SELECT tok, c,
               CAST(round(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                          * 1000000) AS BIGINT) AS lp_micro
        FROM vocab CROSS JOIN tot
    ), scored AS (
        SELECT e.doc_id, count(*) AS n_tokens, -sum(l.lp_micro) AS nll_micro
        FROM ex e JOIN lp l ON e.tok = l.tok GROUP BY e.doc_id
    ), corpus AS (
        SELECT round(CAST(-sum(c * lp_micro) AS DOUBLE)
                     / (CAST((SELECT total FROM tot) AS DOUBLE) * 1000000.0),
                     6) AS corpus_nll
        FROM lp
    ), kept AS (
        SELECT doc_id, n_tokens FROM scored
        WHERE round(CAST(nll_micro AS DOUBLE)
                    / (CAST(n_tokens AS DOUBLE) * 1000000.0), 6)
              <= (SELECT corpus_nll FROM corpus)
    ), ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                   AS global_rank
        FROM kept
    )
    SELECT doc_id, n_tokens, global_rank,
           global_rank // {_SHARD_SIZE} AS shard_id,
           global_rank % {_SHARD_SIZE} AS pos
    FROM ranked ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export manifest: heuristic gate (>= 10 tokens), exact
    normalized dedup keeping the smallest id, unigram-LM gate keeping
    docs at-or-better-than the corpus mean, then the deterministic
    epoch shuffle cut into 64-doc shards. One Spark job; four stages
    that each re-use an already-verified operator's exact topology.

    Scale: the stages compose without materialization barriers — the
    quality filter is scan-time, dedup is one digest shuffle, the LM
    is two shuffles plus broadcast stats, sharding is the bucket
    prefix-sum. Nothing in the pipeline holds text after the digest
    stage; the manifest rows are (id, rank) pairs."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    docs = docs.transform(spread_input, sf_dir, "documents")
    norm = F.trim(F.lower(F.col("text")))
    toks = F.split(norm, r"\s+")
    quality = docs.select(
        "doc_id", norm.alias("norm"), toks.alias("t")
    ).withColumn("n_tokens", F.size("t")).filter(
        F.col("n_tokens") >= _EXPORT_MIN_TOKENS
    )
    wd = Window.partitionBy(F.sha2(F.col("norm"), 256)).orderBy("doc_id")
    # persist the survivor set: four downstream branches (vocab, corpus
    # stats, per-doc scoring, sharding) re-read it, and without the
    # persist each branch re-runs the scan + digest shuffle (measured
    # 11.6 s -> 1.9 s at sf0.1)
    deduped = (
        quality.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "t", "n_tokens")
        .persist()
    )
    ex = deduped.select("doc_id", F.explode("t").alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("total"))
    lp = vocab.crossJoin(F.broadcast(tot)).withColumn(
        "lp_micro",
        F.round(
            F.log(F.col("c").cast("double") / F.col("total").cast("double"))
            * 1000000,
            0,
        ).cast("bigint"),
    )
    scored = (
        ex.join(lp.select("tok", "lp_micro"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("lp_micro")).alias("nll_micro"),
        )
    )
    corpus = (
        lp.agg(
            F.sum(F.col("c") * F.col("lp_micro")).alias("corpus_lp"),
            F.first("total").alias("total"),
        )
        .select(
            F.round(
                (-F.col("corpus_lp")).cast("double")
                / (F.col("total").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("corpus_nll")
        )
    )
    kept = (
        scored.crossJoin(F.broadcast(corpus))
        .filter(
            F.round(
                F.col("nll_micro").cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(1000000.0)),
                6,
            )
            <= F.col("corpus_nll")
        )
        .select("doc_id", "n_tokens")
        .persist()  # read by the rank window AND the bucket counts
    )
    d = kept.select(
        "doc_id", "n_tokens", F.md5(F.col("doc_id").cast("string")).alias("k")
    ).withColumn("bucket", F.conv(F.substring("k", 1, 2), 16, 10).cast("int"))
    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(wb))
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(wo), F.lit(0))
    ).select("bucket", "off")
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .withColumn("global_rank", F.col("off") + F.col("rn") - 1)
        .select(
            "doc_id",
            "n_tokens",
            "global_rank",
            F.floor(F.col("global_rank") / _SHARD_SIZE).alias("shard_id"),
            (F.col("global_rank") % _SHARD_SIZE).alias("pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are
# maximal stopword-free runs; every word scores degree/frequency over
# the whole corpus; a phrase scores the sum of its words. The corpus-
# level keyword index a labeling/routing pipeline starts from.
# ---------------------------------------------------------------------------

_RAKE_SW = "the|a|of|and|to|in|is|for|on|with"
_RAKE_TOPK = 20


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH ph AS (
        SELECT doc_id, unnest(list_filter(list_transform(
                   regexp_split_to_array(trim(lower(text)),
                       '\\s*\\b(?:{_RAKE_SW})\\b\\s*'),
                   p -> trim(p)), p -> length(p) > 0)) AS phrase
        FROM documents WHERE length(trim(text)) > 0
    ),
    words AS (
        SELECT phrase, len(string_split(phrase, ' ')) AS plen,
               unnest(string_split(phrase, ' ')) AS w
        FROM ph
    ),
    wscore AS (
        SELECT w, CAST(round(CAST(sum(plen) AS DOUBLE) / count(*)
                             * 1000000) AS BIGINT) AS s
        FROM words GROUP BY w
    ),
    pdist AS (SELECT phrase, count(*) AS n_occ FROM ph GROUP BY phrase),
    pwords AS (
        SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM pdist
    ),
    pscore AS (
        -- CAST: sum(BIGINT) widens to HUGEINT (driver fetches that
        -- float-style — r03 hash-fail class)
        SELECT p.phrase, CAST(sum(ws.s) AS BIGINT) AS score_micro
        FROM pwords p JOIN wscore ws USING (w) GROUP BY p.phrase
    )
    SELECT d.phrase, d.n_occ, s.score_micro
    FROM pscore s JOIN pdist d USING (phrase)
    ORDER BY s.score_micro DESC, d.phrase LIMIT {_RAKE_TOPK}
    """,
    tags=("textops",),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keywords over the corpus: stopword-delimited candidate
    phrases, word score = degree/frequency (degree sums the lengths of
    every phrase occurrence containing the word), phrase score = sum
    of its word scores in exact integer micro-units — order- and
    engine-independent. Top-20 phrases with occurrence counts.

    Scale shape: two shuffles (word stats, phrase regroup) on bounded
    keys; the word-score table is vocabulary-sized (corpus-growing, so
    the phrase-word join carries no forced broadcast — AQE decides);
    final top-k is a heap merge."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    docs = docs.transform(spread_input, sf_dir, "documents")
    phrases = F.filter(
        F.transform(
            F.split(
                F.trim(F.lower(F.col("text"))), rf"\s*\b(?:{_RAKE_SW})\b\s*"
            ),
            lambda p: F.trim(p),
        ),
        lambda p: F.length(p) > 0,
    )
    ph = docs.select("doc_id", F.explode_outer(phrases).alias("phrase")).filter(
        F.col("phrase").isNotNull()
    )
    words = ph.select(
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wscore = words.groupBy("w").agg(
        F.round(
            F.sum("plen").cast("double") / F.count(F.lit(1)) * 1000000, 0
        )
        .cast("bigint")
        .alias("s")
    )
    pdist = ph.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    pwords = pdist.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    pscore = (
        # no broadcast hint on wscore: word-vocabulary-sized, grows
        # with the corpus — AQE picks the join strategy
        pwords.join(wscore, "w")
        .groupBy("phrase")
        .agg(F.sum("s").alias("score_micro"))
    )
    return (
        pscore.join(pdist, "phrase")
        .select("phrase", "n_occ", "score_micro")
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(_RAKE_TOPK)
    )


@register(
    "text_word_trigrams",
    oracle="""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
               )) AS trigram
        FROM d WHERE len(t) >= 3
    )
    SELECT trigram,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 20
    """,
    tags=("textops",),
)
def text_word_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word n-gram statistics (n=3) — the building block
    of contamination checks, boilerplate detection, and n-gram LM
    training. Trigrams are built WITHOUT a self-join: transform over an
    index sequence slides the window inside one projection (array ops
    stay in codegen), then one explode + hash agg. Scale: the agg
    partial-combines map-side, so the shuffle carries unique trigrams
    per partition, not token instances; the Zipf head is exactly the
    heavy-hitter case the partial combine absorbs."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 3)
    # window-slide via zip_with over three shifted slices rather than
    # an element_at(t, i) index lambda: the latter can re-inline the
    # split() per access after projection collapse (the O(tokens²)
    # trap search_phrase_adjacent measured); slices keep the array
    # reference count constant regardless of token count. At this
    # query's scale the cost is the distinct-agg shuffle either way —
    # this shape just can't regress when docs get long.
    n2 = F.greatest(F.size("t") - 2, F.lit(0))
    bi = F.zip_with(
        F.slice("t", 1, n2),
        F.slice("t", 2, n2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                bi,
                F.slice("t", 3, n2),
                lambda ab, c: F.concat_ws(" ", ab, c),
            )
        ).alias("trigram"),
    )
    return (
        tri.groupBy("trigram")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "trigram")
        .limit(20)
    )


@register(
    "curation_importance_weights",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    ),
    ex AS (SELECT doc_id, lang, unnest(t) AS tok FROM d),
    vocab AS (
        SELECT tok, count(*) AS c_all,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
        FROM ex GROUP BY tok
    ),
    tot AS (
        SELECT sum(c_all) AS t_all, sum(c_tgt) AS t_tgt,
               count(*) AS v FROM vocab
    ),
    lr AS (
        SELECT tok,
               CAST(round((ln((c_tgt + 1.0) / (t_tgt + v))
                           - ln((c_all + 1.0) / (t_all + v))) * 1000000)
                    AS BIGINT) AS lr_micro
        FROM vocab CROSS JOIN tot
    ),
    scored AS (
        SELECT e.doc_id,
               count(*) AS n_tokens,
               sum(l.lr_micro) AS w_micro
        FROM ex e JOIN lr l ON e.tok = l.tok
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(w_micro AS BIGINT) AS weight_micro,
           round(CAST(w_micro AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * 1000000.0), 6)
               AS per_token_weight
    FROM scored
    ORDER BY w_micro DESC, doc_id LIMIT 50
    """,
    tags=("textops", "curation"),
)
def curation_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights (the DSIR recipe reduced to
    unigrams): score every document by the log-likelihood ratio of a
    target-domain unigram LM (here lang='en') against the corpus LM,
    add-1 smoothed over the shared vocabulary; the top-scoring docs are
    what importance resampling would keep for pretraining. Per-token
    log-ratios are rounded to integer micro-nats BEFORE the per-doc
    sum (order-exact bigints, same discipline as text_perplexity_score).
    Scale: one vocab agg with map-side combine — the target counts ride
    the SAME aggregate as a conditional sum, not a second pass — one
    broadcast of the totals row, one token-to-vocab join that AQE
    skew-splits on the Zipf head."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    ex = docs.select(
        "doc_id", "lang", F.explode_outer(toks).alias("tok")
    )
    vocab = ex.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"),
    )
    tot = vocab.agg(
        F.sum("c_all").alias("t_all"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            (
                F.log((F.col("c_tgt") + 1.0) / (F.col("t_tgt") + F.col("v")))
                - F.log((F.col("c_all") + 1.0) / (F.col("t_all") + F.col("v")))
            )
            * 1000000
        )
        .cast("long")
        .alias("lr_micro"),
    )
    scored = (
        ex.join(lr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").alias("w_micro"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.col("w_micro").alias("weight_micro"),
            F.round(
                F.col("w_micro").cast("double")
                / (F.col("n_tokens").cast("double") * 1000000.0),
                6,
            ).alias("per_token_weight"),
        )
        .orderBy(F.desc("weight_micro"), "doc_id")
        .limit(50)
    )


@register(
    "curation_model_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           w -> length(w) >= 2) AS ws
        FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
        SELECT doc_id, ws[u.i] || ' ' || ws[u.i + 1] AS bg
        FROM toks, unnest(range(1, len(ws))) AS u(i)
    ),
    hx AS (SELECT doc_id, sha256('17:' || bg) AS hhex FROM bg),
    hashed AS (
        SELECT doc_id, {hex_to_u32_sql("hhex")} % 2001 - 1000 AS w
        FROM hx
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(w) AS BIGINT) AS logit,
           CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS label_keep
    FROM hashed GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def curation_model_quality_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MODEL-BASED quality filtering — the classifier tier above the
    heuristic gates (curation_gopher_rules) and below an LLM judge:
    CCNet/fastText-style scoring where each document's bigrams index a
    HASHED weight vector and the doc's keep/drop label is the sign of
    the summed logit. The fastText hashing trick is the scale story:
    the "model" is a pure function of the feature hash (here a seeded
    sha32 → integer weight in [-1000, 1000]), so there is NO weight
    table to broadcast, no vocabulary state, and scoring is one
    map-side explode + one doc-keyed aggregation at any corpus size —
    swap the hash-derived weights for trained ones and the plan is
    unchanged. Integer weights keep the logit partition-count-exact
    (the micro-nat discipline of text_perplexity_score).

    Fixture weights are sha-derived rather than trained — the engine
    operator under test is the feature extraction + hashed lookup +
    signed aggregation, which the oracle replays hash-for-hash."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    from ..functions.hashing import sha_hash32

    words = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda w: F.length(w) >= 2,
        ).alias("ws"),
    )
    bigrams = F.filter(
        F.transform(
            F.col("ws"),
            lambda x, i: F.struct(
                x.alias("w1"),
                F.try_element_at(F.col("ws"), i + 2).alias("w2"),
            ),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    bg = words.select(
        "doc_id",
        F.explode(bigrams).alias("b"),
    ).select("doc_id", F.concat_ws(" ", "b.w1", "b.w2").alias("bg"))
    scored = bg.select(
        "doc_id",
        (sha_hash32(F.col("bg"), seed=17) % 2001 - 1000).alias("w"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w").alias("logit"),
        )
        .withColumn("label_keep", (F.col("logit") > 0).cast("long"))
        .orderBy("doc_id")
    )


@register(
    "curation_gopher_rules",
    headline=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
        WHERE length(trim(text)) > 0
    ),
    freq AS (
        SELECT doc_id, max(cnt) AS top_cnt
        FROM (SELECT doc_id, tok, count(*) AS cnt
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok)
        GROUP BY doc_id
    ),
    rules AS (
        SELECT toks.doc_id,
               len(t) AS n_words,
               CAST(len(t) BETWEEN 20 AND 100000 AS INT) AS ok_word_count,
               CAST(CAST(list_reduce(list_prepend(0.0,
                        list_transform(t, w -> CAST(length(w) AS DOUBLE))),
                        (a, v) -> a + v) / len(t) AS DOUBLE)
                    BETWEEN 2.0 AND 10.0 AS INT) AS ok_mean_word_len,
               CAST(CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.1
                    AS INT) AS ok_uniq_ratio,
               CAST(CAST(freq.top_cnt AS DOUBLE) / len(t) <= 0.12 AS INT)
                   AS ok_top_token,
               CAST(len(list_filter(t, w -> list_contains(
                    {list(STOPWORDS)!r}, w))) >= 2 AS INT) AS ok_stopwords
        FROM toks JOIN freq ON toks.doc_id = freq.doc_id
    )
    SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_uniq_ratio,
           ok_top_token, ok_stopwords,
           ok_word_count * ok_mean_word_len * ok_uniq_ratio
               * ok_top_token * ok_stopwords AS keep
    FROM rules
    ORDER BY doc_id
    """,
    tags=("textops",),
)
def curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style admission rules (Rae et al. 2021 §A1.1 heuristics,
    public paper): word-count bounds, mean-word-length bounds, lexical
    diversity, single-token dominance, stopword presence — each rule a
    named flag plus the conjunctive keep bit, so a curation run can
    report per-rule rejection rates, not just a pass count.

    The reference has no quality gate (it ingests every PDF chunk,
    main.py:150-176); this is the curation front-door a 100 TB corpus
    needs. Scale: ONE scan of the text column, one explode, and a
    two-level aggregation ((doc_id, tok) counts → per-doc stats) —
    every rule folds into the same aggregation, so the wide text is
    read once and no per-doc array survives to a join (the earlier
    shape joined the token arrays back and scanned documents twice).
    All sums are integer-valued in doubles (exact at any order), so
    the flags are bit-identical to the oracle's per-array folds. No
    driver collect."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("cnt") * F.length("tok")).alias("len_sum"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("cnt").alias("top_cnt"),
        F.sum(
            F.when(F.array_contains(stop_arr, F.col("tok")), F.col("cnt"))
            .otherwise(F.lit(0))
        ).alias("stop_hits"),
    )
    n = F.col("n_words")
    r = stats.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        n.between(20, 100000).cast("int").alias("ok_word_count"),
        (F.col("len_sum").cast("double") / n)
        .between(2.0, 10.0)
        .cast("int")
        .alias("ok_mean_word_len"),
        (F.col("n_uniq").cast("double") / n >= 0.1)
        .cast("int")
        .alias("ok_uniq_ratio"),
        (F.col("top_cnt").cast("double") / n <= 0.12)
        .cast("int")
        .alias("ok_top_token"),
        (F.col("stop_hits") >= 2).cast("int").alias("ok_stopwords"),
    )
    return r.select(
        "*",
        (
            F.col("ok_word_count")
            * F.col("ok_mean_word_len")
            * F.col("ok_uniq_ratio")
            * F.col("ok_top_token")
            * F.col("ok_stopwords")
        ).alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, ch, count(*) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, length(s)),
                       i -> substr(s, i, 1))) AS ch
            FROM (SELECT doc_id, replace(lower(text), ' ', '') AS s
                  FROM documents WHERE length(replace(text, ' ', '')) > 0)
        )
        GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(cnt) AS n FROM chars GROUP BY doc_id)
    SELECT chars.doc_id,
           CAST(max(n) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS alphabet,
           round(-sum((CAST(cnt AS DOUBLE) / n)
                      * log2(CAST(cnt AS DOUBLE) / n)), 6) AS entropy_bits
    FROM chars JOIN tot ON chars.doc_id = tot.doc_id
    GROUP BY chars.doc_id
    ORDER BY chars.doc_id
    """,
    tags=("textops",),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/boilerplate detector (low entropy = repeated filler,
    near-random bytes = high): alphabet size and -Σ p·log2 p over
    non-space characters.

    The oracle enumerates characters positionally (generate_series +
    substr — DuckDB's empty-pattern split is not defined the same way);
    Spark-side the explode input is split(s, ''), whose char-array
    semantics are pinned by test and which evaluates the normalized
    string ONCE per row — a substring(s, i, 1) index lambda would
    re-inline the replace(lower(text)) at every character access after
    projection collapse, turning the scan O(chars²) (the same trap
    search_phrase_adjacent documents). Scale: the explode is map-side
    and the two aggregations shuffle on (doc_id[, ch]) — partial
    aggregation collapses each partition to its distinct chars first,
    so shuffle volume ~ docs × alphabet, not corpus characters."""
    docs = load_table(spark, sf_dir, "documents")
    s = F.replace(F.lower(F.col("text")), F.lit(" "), F.lit(""))
    d = docs.select("doc_id", s.alias("s")).filter(F.length("s") > 0)
    chars = (
        d.select(
            "doc_id",
            F.explode(F.split("s", "")).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = chars.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n")
    return (
        chars.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("alphabet"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0
    ),
    pairs AS (
        SELECT unnest(list_transform(
                   generate_series(1, length(w) - 1),
                   i -> substr(w, i, 2))) AS pair
        FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
    tags=("textops",),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE training (Sennrich et al. 2016,
    public paper): count adjacent symbol pairs within words across the
    corpus and rank them — the top pair is the first merge a tokenizer
    would learn. Corpus-wide pair statistics are also the input to
    tokenizer-fit diagnostics (is the vocab stale for this corpus?).

    Scale: both explodes are map-side (no shuffle until the pair
    groupBy), partial aggregation collapses each partition to its
    distinct pairs (≤ alphabet², tiny), and the final top-30 is a
    TakeOrderedAndProject. At 100 TB this is one scan + a
    constant-size shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


@register(
    "search_phrase_adjacent",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, source,
           CAST(len(list_filter(generate_series(1, len(t) - 1),
                i -> t[i] = 'fast' AND t[i + 1] = 'table')) AS INT)
               AS n_phrase
    FROM toks
    WHERE len(list_filter(generate_series(1, len(t) - 1),
              i -> t[i] = 'fast' AND t[i + 1] = 'table')) > 0
    ORDER BY doc_id
    """,
    tags=("textops", "search"),
)
def search_phrase_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("fast table", adjacency-sensitive) — what
    bag-of-words retrieval can't express. Positions come from an index
    filter over the token array, so the match and the occurrence count
    are one map-side expression: no explode, no self-join of a
    positional posting list, no shuffle before the final sort.

    At 100 TB the same predicate pushes into an inverted-index
    candidate fetch (text_inverted_index) and this expression becomes
    the verify step on the shortlisted docs.

    Expression shape matters: an index-lambda over sequence() with
    element_at(t, i) re-inlines the split() at EVERY access after
    Catalyst collapses the projections — O(tokens²) splits per row,
    measured 8× the runtime at 10× data. zip_with over two slices
    references the token array a constant number of times, so the scan
    stays linear."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    d = docs.select("doc_id", "source", t.alias("t"))
    n1 = F.greatest(F.size("t") - 1, F.lit(0))
    hits = F.size(
        F.filter(
            F.zip_with(
                F.slice("t", 1, n1),
                F.slice("t", 2, n1),
                lambda a, b: (a == "fast") & (b == "table"),
            ),
            lambda x: x,
        )
    )
    return (
        d.select("doc_id", "source", hits.alias("n_phrase"))
        .filter(F.col("n_phrase") > 0)
        .orderBy("doc_id")
    )


# DuckDB replay of the BPE training loop for the two BPE oracles: the
# loop is bounded (8 merges), so it unrolls into 8 chained MATERIALIZED
# CTE stages — count pairs, argmax, apply merge — over a sentinel-
# encoded vocabulary. Each word is encoded as \x01tok\x02\x01tok\x02…;
# one merge application is then a plain replace() of
# "\x01l\x02\x01r\x02" with "\x01lr\x02": because every match consumes
# whole wrapped tokens (no shared boundary characters between adjacent
# occurrences), SQL replace()'s left-to-right non-overlapping scan IS
# the reference BPE greedy merge (functions/bpe.py _apply_merge).
# MATERIALIZED is load-bearing: each vocab stage is referenced three
# times by the next (FROM + two scalar subqueries), so without it the
# inlined plan re-evaluates the whole chain 3^8 times.
_BPE_S, _BPE_E = "\x01", "\x02"
_BPE_N_MERGES = 8


def _bpe_vocab_ctes(n_merges: int = _BPE_N_MERGES) -> str:
    S, E = _BPE_S, _BPE_E
    tokpat = f"{S}([^{E}]*){E}"
    parts = [
        f"""vocab0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS n,
               regexp_replace(word, '(.)', '{S}\\1{E}', 'g') AS enc
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
              FROM documents WHERE length(trim(text)) > 0)
        WHERE length(word) >= 2
        GROUP BY word
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""best{k} AS MATERIALIZED (
        SELECT l, r, CAST(pn AS BIGINT) AS pn FROM (
            SELECT t.p[u.i] AS l, t.p[u.i + 1] AS r, sum(t.n) AS pn
            FROM (SELECT regexp_extract_all(enc, '{tokpat}', 1) AS p, n
                  FROM vocab{k - 1}) t,
                 unnest(range(1, len(t.p))) AS u(i)
            GROUP BY 1, 2)
        ORDER BY pn DESC, l, r
        LIMIT 1
    )"""
        )
        parts.append(
            f"""vocab{k} AS MATERIALIZED (
        SELECT word, n,
               replace(enc,
                   (SELECT '{S}' || l || '{E}{S}' || r || '{E}' FROM best{k}),
                   (SELECT '{S}' || l || r || '{E}' FROM best{k})) AS enc
        FROM vocab{k - 1}
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "text_bpe_learn_merges",
    oracle=f"""
    WITH {_bpe_vocab_ctes()}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'SELECT CAST({k} AS INT) AS rank, l AS "left", r AS "right", '
            f"l || r AS merged, pn AS pair_n FROM best{k}"
            for k in range(1, _BPE_N_MERGES + 1)
        )}
    ) ORDER BY rank
    """,
    tags=("textops",),
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (first 8 merges): collapse
    the corpus to a (word, n) frequency table once, then iterate
    count-pairs → argmax → apply-merge on that compact frame
    (functions/bpe.py). Extends text_bpe_pair_counts — which scores
    only the FIRST merge — into the real training loop whose output is
    the ordered merge table a tokenizer ships.

    The Spark loop is driver-iterative; the DuckDB oracle replays the
    SAME bounded loop as 8 unrolled materialized-CTE stages over a
    sentinel-encoded vocabulary (_bpe_vocab_ctes), so full merge-table
    values are hash-checked — plus independent single-process parity
    in tests/test_bpe.py.

    Scale: the only corpus-sized stage is the word-frequency groupBy
    (output ~ vocabulary, sub-linear in corpus bytes); every iteration
    then touches ≤ |vocab| rows — pair counts partial-aggregate to
    ≤ |symbols|² keys, the argmax is a 1-row TakeOrdered, and the merge
    is a narrow array fold. localCheckpoint per iteration keeps plan
    size constant across merges."""
    from ..functions.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "word"
            )
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return learn_bpe_merges(spark, vocab, n_merges=8).orderBy("rank")


@register(
    "text_bpe_encode_tokens",
    oracle=f"""
    WITH {_bpe_vocab_ctes()},
    word_tokens AS MATERIALIZED (
        SELECT word,
               length(word) AS chars,
               len(regexp_extract_all(enc,
                   '{_BPE_S}([^{_BPE_E}]*){_BPE_E}', 1)) AS toks
        FROM vocab{_BPE_N_MERGES}
    ),
    words AS (
        SELECT doc_id, word FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                       AS word
            FROM documents WHERE length(trim(text)) > 0)
        WHERE length(word) >= 2
    ),
    per_word AS (
        SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(cnt * chars) AS BIGINT) AS n_chars,
               CAST(sum(cnt * toks) AS BIGINT) AS n_bpe_tokens
        FROM per_word JOIN word_tokens USING (word)
        GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_bpe_tokens,
           round(CAST(n_chars AS DOUBLE) / n_bpe_tokens, 6) AS compression
    FROM agg ORDER BY doc_id
    """,
    tags=("textops",),
)
def text_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of BPE: learn 8 merges from the corpus
    (text_bpe_learn_merges), then tokenize every document with the
    learned table and report per-document char count, BPE token count
    and compression ratio — the real token-budget accounting a training
    pipeline runs before packing (tokens, not characters, are the
    budget unit).

    The DuckDB oracle replays the bounded training loop with the same
    unrolled-CTE machinery as text_bpe_learn_merges, then encodes each
    DISTINCT word from the final sentinel-encoded vocabulary — full
    per-document values are hash-checked; the single-process encoder
    parity stays pinned by tests/test_bpe.py.

    Scale: the merge table is 8 driver rows folded into the plan as
    literals (broadcast-free constant folding); encoding is a narrow
    per-(doc, word) fold with no Python and no shuffle beyond the
    word-count groupBy, and per-doc totals reuse the doc_id key."""
    from ..functions.bpe import (
        _explode_chars,
        apply_bpe_merges,
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "word"
        ),
    ).filter(F.length("word") >= 2)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(spark, vocab, n_merges=8)
        .orderBy("rank")
        .collect()
    ]
    # encode each DISTINCT word once (vocab-sized work, not corpus-
    # sized), then broadcast the tiny token-length table back onto the
    # per-doc word counts — measured 8.0 s → 3.2 s at sf0.1
    word_tokens = vocab.select(
        "word",
        F.length("word").alias("chars"),
        F.size(apply_bpe_merges(_explode_chars(F.col("word")), merges)).alias(
            "toks"
        ),
    )
    per_word = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # no broadcast hint on word_tokens: distinct-word-sized, grows
    # with the corpus — AQE picks the join strategy
    encoded = per_word.join(word_tokens, "word")
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("chars")).cast("long").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("toks")).cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "compression",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6),
        )
        .orderBy("doc_id")
    )


def _bpe_batched_ctes(n_merges: int, batch: int) -> str:
    """DuckDB replay of BATCHED BPE merge selection
    (functions/bpe.py:learn_bpe_merges with batch>1), unrolled: per
    round, a candidate CTE takes the top ``_candidate_window(batch)``
    pairs in (count desc, pair lexicographic) order, then one pick-CTE
    per batch slot repeats the greedy disjointness rule — skip a
    candidate whose operand was consumed or produced by an earlier
    same-round pick, or whose merged token equals an earlier pick's
    operand — and the round's picks apply as chained replaces over the
    sentinel encoding (exactly sequential application, which the
    disjointness rule makes equal to the engine's single-pass fold).
    The same MMR-style unrolling trick as _mmr_sql: a bounded greedy
    loop becomes k readable CTEs."""
    from ..functions.bpe import _candidate_window

    S, E = _BPE_S, _BPE_E
    tokpat = f"{S}([^{E}]*){E}"
    assert n_merges % batch == 0
    parts = [
        f"""vocab0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS n,
               regexp_replace(word, '(.)', '{S}\\1{E}', 'g') AS enc
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
              FROM documents WHERE length(trim(text)) > 0)
        WHERE length(word) >= 2
        GROUP BY word
    )"""
    ]
    n_rounds = n_merges // batch
    for rd in range(1, n_rounds + 1):
        prev = (rd - 1) * batch
        parts.append(
            f"""cand{rd} AS MATERIALIZED (
        SELECT l, r, CAST(pn AS BIGINT) AS pn FROM (
            SELECT t.p[u.i] AS l, t.p[u.i + 1] AS r, sum(t.n) AS pn
            FROM (SELECT regexp_extract_all(enc, '{tokpat}', 1) AS p, n
                  FROM vocab{prev}) t,
                 unnest(range(1, len(t.p))) AS u(i)
            GROUP BY 1, 2)
        ORDER BY pn DESC, l, r
        LIMIT {_candidate_window(batch)}
    )"""
        )
        for j in range(1, batch + 1):
            # the greedy skip rule against every earlier same-round pick
            disjoint = " AND ".join(
                f"""NOT EXISTS (
            SELECT 1 FROM p{rd}_{i} q
            WHERE c.l IN (q.l, q.r, q.l || q.r)
               OR c.r IN (q.l, q.r, q.l || q.r)
               OR (c.l || c.r) IN (q.l, q.r))"""
                for i in range(1, j)
            )
            where = f"WHERE {disjoint}" if disjoint else ""
            parts.append(
                f"""p{rd}_{j} AS MATERIALIZED (
        SELECT l, r, pn FROM cand{rd} c
        {where}
        ORDER BY pn DESC, l, r
        LIMIT 1
    )"""
            )
        # apply the round's picks as chained replaces (disjoint, so
        # order-free); coalesce makes an under-filled slot a no-op
        enc = "enc"
        for j in range(1, batch + 1):
            needle = f"(SELECT '{S}' || l || '{E}{S}' || r || '{E}' FROM p{rd}_{j})"
            repl = f"(SELECT '{S}' || l || r || '{E}' FROM p{rd}_{j})"
            enc = (
                f"replace({enc}, coalesce({needle}, chr(3)), "
                f"coalesce({repl}, ''))"
            )
        parts.append(
            f"""vocab{rd * batch} AS MATERIALIZED (
        SELECT word, n, {enc} AS enc FROM vocab{prev}
    )"""
        )
    return ",\n    ".join(parts)


def _bpe_batched_oracle(n_merges: int, batch: int) -> str:
    selects = " UNION ALL ".join(
        f'SELECT CAST({(rd - 1) * batch + j} AS INT) AS rank, l AS "left", '
        f'r AS "right", l || r AS merged, pn AS pair_n FROM p{rd}_{j}'
        for rd in range(1, n_merges // batch + 1)
        for j in range(1, batch + 1)
    )
    return (
        f"WITH {_bpe_batched_ctes(n_merges, batch)}\n"
        f"    SELECT * FROM ({selects}) ORDER BY rank"
    )


@register(
    "text_bpe_learn_merges_batched",
    oracle=_bpe_batched_oracle(8, 4),
    tags=("textops",),
)
def text_bpe_learn_merges_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCHED BPE merge selection, driver-checkable configuration:
    8 merges in rounds of 4 over the word-frequency table — the same
    batched-selection machinery bpe_train_256_bigrams runs at
    production merge counts (take the round's top candidates greedily
    in (count desc, pair lexicographic) order, SKIPPING pairs whose
    symbols an earlier same-round pick consumed or produced; apply the
    whole batch as one chained fold). Batching is what makes tokenizer
    training viable on a cluster: merge count stops equaling scheduler
    round-trips (VERDICT r7: 32k merges = 32k round trips), here 2
    Spark rounds instead of 8.

    The oracle unrolls the batched algorithm itself —
    candidate-window CTE + one greedy disjoint-pick CTE per slot per
    round (_bpe_batched_ctes) — so the batched selection rule, not
    just its sequential degenerate case, is hash-checked by the
    driver. The 256-merge production run stays benched
    (bpe_train_256_batched) and is pinned against the single-process
    twin in tests/test_bpe.py.

    Scale: identical per-round shape to text_bpe_learn_merges (pair
    explode → partial/final agg over a ≤|symbols|² key space → one
    bounded collect), but rounds are n_merges/batch. The
    word-frequency frame stays the only corpus-sized stage."""
    from ..functions.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "word"
            )
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return learn_bpe_merges(
        spark, vocab, n_merges=8, batch=4, strict_batches=True
    ).orderBy("rank")


def bpe_train_256_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning at PRODUCTION merge counts: 256 merges
    learned in batches of 64 (4 Spark rounds total — half the job
    count the 8-merge sequential query pays). Not registered: a
    256-merge loop is an iterative algorithm whose unrolled oracle
    would be 256 CTE stages; the batched selection RULE is
    oracle-checked at driver scale by text_bpe_learn_merges_batched,
    and this run's ground truth is pinned the MLlib/sketch way
    (tests/test_bpe.py replays the identical algorithm
    single-process). Benched as bpe_train_256_batched in bench.py.

    Training units are adjacent-word BIGRAMS (the fixture's word
    vocabulary is 30 strings — single words saturate near 90 merges;
    bigram units give the loop a phrase-piece-style vocabulary that
    genuinely sustains 256). The bigram table is built with the same
    no-shuffle positional-zip trick the pair counter uses."""
    from ..functions.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    # materialize the word array in its own projection: referencing a
    # column attribute inside the positional lambda is O(1), while an
    # inline split() expression would re-evaluate per element (O(len²)
    # per doc — measured 8 s of the build at sf0.1)
    words = docs.select(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda w: F.length(w) >= 2,
        ).alias("ws")
    )
    bigrams = F.filter(
        F.transform(
            F.col("ws"),
            lambda x, i: F.struct(
                x.alias("w1"),
                F.try_element_at(F.col("ws"), i + 2).alias("w2"),
            ),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    vocab = (
        words.select(F.explode(bigrams).alias("b"))
        .select(F.concat_ws(" ", "b.w1", "b.w2").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return learn_bpe_merges(spark, vocab, n_merges=256, batch=64).orderBy(
        "rank"
    )


@register(
    "curation_sample_weighted_priority",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
               {{u}} AS u
        FROM documents WHERE n_chars > 0
    ),
    prio AS (
        SELECT doc_id, weight,
               (weight * 4294967296) // (u + 1) AS priority
        FROM hashed
    )
    SELECT doc_id, weight, CAST(priority AS BIGINT) AS priority
    FROM prio
    ORDER BY priority DESC, doc_id
    LIMIT 20
    """.format(u=sha_hash32_sql("CAST(doc_id AS VARCHAR)", seed=41)),
    tags=("textops", "curation", "sampling"),
)
def curation_sample_weighted_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT replacement by PRIORITY SAMPLING
    (Duffield-Lund-Thorup 2007, public): each doc draws a deterministic
    uniform u from its id hash and gets priority w/u; the top-k
    priorities are the sample, selected with probability increasing in
    weight and admitting unbiased subset-sum estimators. This is the
    principled way to subsample a corpus by a quality weight (here
    n_chars as the proxy) — a plain hash sample ignores weights, and
    the quality-band sampler stratifies rather than weights.

    Determinism discipline: the priority is INTEGER-QUANTIZED —
    (w << 32) div (u + 1) in exact integer arithmetic, ties broken by
    doc_id — because a float w/u ranks on ln/division ulps that Java
    and DuckDB may round differently, and a one-ulp flip near the k-th
    priority would change the SELECTED SET, not just a digit. The
    quantization error is 2^-32 relative: statistically irrelevant,
    correctness-exact.

    Scale shape: priorities are a map-side expression over the scan;
    top-k plans as TakeOrderedAndProject (k rows per partition cross
    the network); zero shuffles beyond the heap merge. At 100 TB this
    is the cheapest possible weighted subsample."""
    from ..functions.hashing import sha_hash32

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = sha_hash32(F.col("doc_id").cast("string"), seed=41)
    prio = F.expr(
        "(weight * 4294967296) div (u + 1)"
    )
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            u.alias("u"),
        )
        .select("doc_id", "weight", prio.cast("long").alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(20)
    )


# PII patterns shared by the scrub query and its oracle — the regex
# dialect subset that Java (Spark) and RE2 (DuckDB) interpret
# identically: char classes, bounded repetition, \b word boundaries.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic synthetic PII appended per doc (the fixture corpus is
# clean, so the query generates its own positives — same rule on both
# engines, like the multimodal payload generators).
_PII_AUG_SQL = """concat(text, CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN concat(' contact user', CAST(doc_id AS {str_t}),
                       '@example.com now')
    WHEN 1 THEN concat(' call 555-',
                       lpad(CAST(doc_id % 1000 AS {str_t}), 3, '0'),
                       '-', lpad(CAST(doc_id % 10000 AS {str_t}), 4, '0'),
                       ' today')
    ELSE concat(' from 10.', CAST(doc_id % 256 AS {str_t}), '.0.',
                CAST((doc_id * 7) % 256 AS {str_t}), ' logged')
END)"""


@register(
    "curation_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               {_PII_AUG_SQL.format(str_t="VARCHAR")} AS t
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
                   AS n_email,
               CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
                   AS n_phone,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                       '{_PII_PHONE}', '[PHONE]', 'g'),
                   '{_PII_IP}', '[IP]', 'g') AS clean
        FROM aug
    )
    SELECT doc_id, n_email, n_phone,
           CAST(len(regexp_extract_all(clean, '\\[(EMAIL|PHONE|IP)\\]'))
                AS BIGINT) AS n_redactions,
           sha256(clean) AS scrub_sha
    FROM scrubbed
    ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every public training corpus
    runs before release (emails, phone numbers, IP addresses →
    placeholder tokens, with per-doc redaction accounting for the
    audit ledger). The fixture corpus is clean, so deterministic
    synthetic PII is appended per doc (same rule in the oracle); the
    scrubbed text is digest-checked, so placement, ordering, and
    non-greedy boundaries of every replacement must match exactly.

    The IP count is NOT reported pre-scrub, deliberately: scrubbing is
    sequential (email → phone → IP) and an IPv4-shaped fragment inside
    an already-redacted span must not double-count — n_redactions
    counts placeholders in the FINAL text, the number an auditor can
    re-verify from the released corpus alone.

    Scale shape: one narrow map (regex + sha256, whole-stage codegen,
    no Python) — scan-bound at any corpus size; the only exchange is
    the presentation sort. Patterns stay in the Java∩RE2 dialect so
    the oracle runs them verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.expr(_PII_AUG_SQL.format(str_t="STRING")).alias("t"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(_PII_PHONE),
            F.lit("[PHONE]"),
        ),
        F.lit(_PII_IP),
        F.lit("[IP]"),
    )
    scrubbed = aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL))
        .cast("long")
        .alias("n_email"),
        F.regexp_count(F.col("t"), F.lit(_PII_PHONE))
        .cast("long")
        .alias("n_phone"),
        clean.alias("clean"),
    )
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_phone",
        F.regexp_count(F.col("clean"), F.lit(r"\[(EMAIL|PHONE|IP)\]"))
        .cast("long")
        .alias("n_redactions"),
        F.sha2(F.col("clean"), 256).alias("scrub_sha"),
    ).orderBy("doc_id")


@register(
    "text_kneser_ney_bigram",
    headline=True,
    oracle="""
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
        WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
    ),
    bigrams AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2
        FROM d, unnest(range(1, len(toks))) AS u(i)
    ),
    big AS (SELECT w1, w2, count(*) AS c FROM bigrams GROUP BY w1, w2),
    hist AS (
        SELECT w1,
               CAST(sum(c) AS BIGINT) AS c1,
               count(*) AS nf
        FROM big GROUP BY w1
    ),
    cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY w2),
    t AS (SELECT count(*) AS n_types FROM big)
    SELECT b.w1, b.w2, b.c,
           round((b.c - 0.75) / h.c1
                 + 0.75 * h.nf / h.c1
                   * (CAST(co.nb AS DOUBLE) / t.n_types), 6) AS p_kn
    FROM big b
    JOIN hist h ON h.w1 = b.w1
    JOIN cont co ON co.w2 = b.w2
    CROSS JOIN t
    ORDER BY p_kn DESC, b.w1, b.w2
    LIMIT 30
    """,
    tags=("textops", "quality", "lm"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (d=0.75) self-trained on
    the corpus — the standard n-gram LM smoothing (Kneser & Ney 1995;
    what KenLM implements) and the backbone of perplexity-based
    quality filters: unlike the raw MLE model (text_char_bigram_lm),
    the backoff weight is the CONTINUATION count — how many distinct
    histories a word follows — so boilerplate tokens that occur often
    in one context stop dominating. Emits the 30 most probable
    bigrams: P_KN(w2|w1) = (c - d)/c(w1·) + d·N1+(w1·)/c(w1·) ·
    N1+(·w2)/|types|.

    Plan: one token explode feeds ONE bigram-type aggregation; the
    history, continuation, and type-total tables all derive from that
    types table. The |types| scalar joins as a single-row broadcast,
    never a collect(). At 100 TB the explode is the only corpus-sized
    stage — everything after is vocabulary-sized. The hist/cont joins
    carry NO broadcast hint on purpose: a whitespace-token vocabulary
    grows with the corpus (easily 1e8 rows on web text), so a forced
    broadcast would bypass Spark's size check and OOM executors; AQE
    picks broadcast at small scale and shuffle join when the vocab
    outgrows the threshold."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .transform(spread_input, sf_dir, "documents")
    )
    bigrams = d.select(
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # persist: FOUR branches (the join left side, hist, cont, types)
    # read this frame, and column pruning specializes each copy's
    # explode subtree so ReuseExchange never fires — without the
    # persist the corpus-sized explode+count runs four times (plan
    # audit r16: 4 Generate nodes, 8 scans, 0 ReusedExchange). The
    # frame is vocabulary-sized (Heaps' law), never corpus-sized.
    # Lifetime (r17 persist sweep, ADVICE r16): session-scoped like
    # every query-internal persist in the suites — a builder cannot
    # unpersist before the caller materializes the returned frame,
    # and Spark's default DataFrame level is already MEMORY_AND_DISK
    # (entries spill, they don't OOM). A long-lived host evicts with
    # spark.catalog.clearCache() between query generations; the
    # serving layer's own cache has an explicit unpersist hook
    # (api.EngineAPI._invalidate).
    big = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    hist = big.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c1"), F.count(F.lit(1)).alias("nf")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("nb"))
    types = big.agg(F.count(F.lit(1)).alias("n_types"))
    return (
        big.join(hist, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                (F.col("c") - F.lit(0.75)) / F.col("c1")
                + F.lit(0.75) * F.col("nf") / F.col("c1")
                * (F.col("nb").cast("double") / F.col("n_types")),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("p_kn"), "w1", "w2")
        .limit(30)
    )


@register(
    "curation_sample_quality_band",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               round(CAST(len(list_distinct(
                          regexp_split_to_array(trim(lower(text)), '\\s+')))
                          AS DOUBLE)
                     / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6)
                   AS quality
        FROM documents
        WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 1
    ),
    hist AS (
        SELECT quality, count(*) AS cnt FROM scored GROUP BY quality
    ),
    cum AS (
        SELECT quality,
               sum(cnt) OVER (ORDER BY quality) AS cum
        FROM hist
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
    edges AS (
        SELECT b, min(quality) AS edge
        FROM cum
        CROSS JOIN tot
        CROSS JOIN (SELECT unnest([1, 2, 3]) AS b) bs
        WHERE cum >= (b * n + 3) // 4
        GROUP BY b
    ),
    e AS (
        SELECT max(CASE WHEN b = 1 THEN edge END) AS e1,
               max(CASE WHEN b = 2 THEN edge END) AS e2,
               max(CASE WHEN b = 3 THEN edge END) AS e3
        FROM edges
    ),
    banded AS (
        SELECT doc_id, quality,
               1 + CAST(quality > e1 AS INT)
                 + CAST(quality > e2 AS INT)
                 + CAST(quality > e3 AS INT) AS band
        FROM scored CROSS JOIN e
    ),
    drawn AS (
        SELECT band, doc_id, quality,
               row_number() OVER (PARTITION BY band
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
        FROM banded
    )
    SELECT band, doc_id, quality
    FROM drawn WHERE rn <= 5
    ORDER BY band, doc_id
    """,
    tags=("textops", "curation", "sampling"),
)
def curation_sample_quality_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-STRATIFIED sampling: score every document (lexical
    diversity = distinct/total tokens), cut the corpus into quality
    quartiles via EXACT cut points derived from a bounded histogram,
    and draw a fixed deterministic quota (5) per band by md5 key
    order — the eval-set construction that guarantees the sample
    spans the quality SPECTRUM instead of clustering at the corpus
    mode (uniform sampling over-represents whatever dominates). Same
    md5-draw discipline as sample_stratified_sources, stratified on a
    DERIVED signal instead of a stored column.

    Band rule (deterministic, no global sort): quality is rounded to
    6dp in [0, 1], so groupBy(quality) is a ≤1e6+1-row histogram
    REGARDLESS of corpus size; a prefix sum over that tiny table
    yields exact quartile edges e_b = min quality with cum ≥
    ceil(b·n/4), and band = 1 + Σ(quality > e_b). Ties share a band
    (bands may be unequal under heavy ties — the price of a
    sort-free exact rule; ntile's tie-splitting needed a
    one-reducer global sort, the 100 TB killer this replaces).

    Scale: scoring is a zero-shuffle narrow map (the corpus is read
    twice — histogram pass + band pass — the scan-twice-vs-sort-once
    trade a 100 TB plan wants); the only unpartitioned window runs
    over the bounded histogram; n comes from summing the histogram,
    not a third scan; edges broadcast back as a single row. The
    per-band draw is two-level: top-5 within (band, 256-way md5
    salt) — thousands of window keys, corpus-scale parallel — then
    top-5 per band over the ≤5·4·256 survivors; the global top-5 per
    band is always top-5 in its salt bucket, so the prune is
    lossless and the result identical to the one-level rule the
    oracle states."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    scored = docs.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("quality"),
    ).filter(F.size(toks) >= 1)
    from pyspark.sql.window import Window as _W

    hist = scored.groupBy("quality").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            _W.orderBy("quality").rowsBetween(_W.unboundedPreceding, 0)
        ),
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    bands3 = spark.range(1, 4).select(F.col("id").cast("int").alias("b"))
    edges = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(bands3))
        .filter(F.col("cum") >= F.expr("(b * n + 3) div 4"))
        .groupBy("b")
        .agg(F.min("quality").alias("edge"))
    )
    e = edges.agg(
        F.max(F.when(F.col("b") == 1, F.col("edge"))).alias("e1"),
        F.max(F.when(F.col("b") == 2, F.col("edge"))).alias("e2"),
        F.max(F.when(F.col("b") == 3, F.col("edge"))).alias("e3"),
    )
    banded = scored.crossJoin(F.broadcast(e)).select(
        "doc_id",
        "quality",
        (
            F.lit(1)
            + (F.col("quality") > F.col("e1")).cast("int")
            + (F.col("quality") > F.col("e2")).cast("int")
            + (F.col("quality") > F.col("e3")).cast("int")
        ).alias("band"),
    )
    key = F.md5(F.col("doc_id").cast("string"))
    pruned = (
        banded.withColumn("mkey", key)
        .withColumn(
            "prn",
            F.row_number().over(
                _W.partitionBy(
                    "band", F.substring(F.col("mkey"), 1, 2)
                ).orderBy("mkey", "doc_id")
            ),
        )
        .filter(F.col("prn") <= 5)
    )
    drawn = pruned.withColumn(
        "rn",
        F.row_number().over(
            _W.partitionBy("band").orderBy("mkey", "doc_id")
        ),
    )
    return (
        drawn.filter(F.col("rn") <= 5)
        .select("band", "doc_id", "quality")
        .orderBy("band", "doc_id")
    )


@register(
    "text_ngram_coverage_curve",
    oracle="""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
        FROM documents
    ),
    counts AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
    ranked AS (
        SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS rnk
        FROM counts
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT k,
           CAST(count(*) AS BIGINT) AS vocab_used,
           CAST(sum(n) AS BIGINT) AS covered_tokens,
           round(CAST(sum(n) AS DOUBLE) / tot.total, 6) AS coverage
    FROM ranked JOIN ks ON ranked.rnk <= ks.k
    CROSS JOIN tot
    GROUP BY k, tot.total
    ORDER BY k
    """,
    tags=("textops", "tokenizer"),
)
def text_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE curve: what fraction of all token
    occurrences the top-K vocabulary covers, at K = 10/100/1000 — the
    sizing curve for tokenizer vocab and OOV-rate budgets (the
    Zipf-law consequence BPE exploits: a tiny head covers most of the
    stream; text_bpe_learn_merges builds the vocab, this measures what
    a budget buys). Deterministic head: ranks tie-break on the token
    string.

    Scale: the corpus-sized stage is one token explode into a
    vocabulary-sized count table; the rank window sorts the VOCAB
    (bounded — millions, not corpus-scale), the K probes join against
    a 3-row broadcast, and the total is a single-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t")
    )
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as _W

    ranked = counts.withColumn(
        "rnk", F.row_number().over(_W.orderBy(F.desc("n"), "t"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    ks = docs.sparkSession.createDataFrame([(10,), (100,), (1000,)], "k int")
    return (
        ranked.join(F.broadcast(ks), F.col("rnk") <= F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_used"),
            F.sum("n").cast("long").alias("covered_tokens"),
            F.round(
                F.sum("n").cast("double") / F.first("total"), 6
            ).alias("coverage"),
        )
        .select("k", "vocab_used", "covered_tokens", "coverage")
        .orderBy("k")
    )


# --- Unicode canonicalization -----------------------------------------
# The mojibake pass every multilingual corpus needs before dedup or
# tokenization: decomposed sequences (NFD) hash differently from their
# composed twins, zero-width characters split tokens invisibly, and
# NBSP defeats whitespace tokenizers. Stated cleaning rule, applied in
# this order on both engines:
#   1. NFC canonical composition
#   2. drop zero-width characters (ZWSP/ZWNJ/ZWJ/BOM)
#   3. NBSP -> ordinary space
#   4. drop C0 controls except \t \n \r (and drop DEL)
#   5. collapse space/tab runs, trim
# All non-ASCII code points live here as escapes; the oracle f-string
# interpolates the real characters so both engines see identical text.
_UC_MARK = "\u0301"     # combining acute: 'e'+mark NFC-composes to U+00E9
_UC_EACUTE = "\u00e9"
_UC_ZWSP = "\u200b"
_UC_ZW_CLASS = "[\u200b\u200c\u200d\ufeff]"
_UC_CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_UC_NBSP = "\u00a0"
# Deterministic dirty-text derivation (fixture corpus is ASCII-clean):
# decompose every accentable 'e', hide a ZWSP inside ' th' bigrams, and
# append an NBSP + BEL + ragged-space tail.
_UC_TAIL = _UC_NBSP + "end\x07  ."


def unicode_clean_col(col):
    """The stated cleaning rule as a column expression (steps 1-5 of
    the comment above). NFC is the only Python step — an Arrow-batched
    scalar pandas_udf; everything else is codegen'd builtins. Factored
    out so tests can prove idempotence by applying it twice."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.replace(
                    F.regexp_replace(
                        _nfc(col), F.lit(_UC_ZW_CLASS), F.lit("")
                    ),
                    F.lit(_UC_NBSP),
                    F.lit(" "),
                ),
                F.lit(_UC_CTRL_CLASS),
                F.lit(""),
            ),
            F.lit("[ \t]+"),
            F.lit(" "),
        )
    )


@register(
    "text_unicode_clean",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               replace(replace(text, 'e', 'e{_UC_MARK}'),
                       ' th', ' {_UC_ZWSP}th') || '{_UC_TAIL}' AS t
        FROM documents
    ),
    cleaned AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_UC_MARK}')) AS BIGINT)
                   AS n_marks,
               CAST(len(regexp_extract_all(t, '{_UC_ZW_CLASS}')) AS BIGINT)
                   AS n_zero_width,
               trim(regexp_replace(
                   regexp_replace(
                       replace(
                           regexp_replace(nfc_normalize(t),
                                          '{_UC_ZW_CLASS}', '', 'g'),
                           '{_UC_NBSP}', ' '),
                       '{_UC_CTRL_CLASS}', '', 'g'),
                   '[ \t]+', ' ', 'g')) AS clean
        FROM aug
    )
    SELECT doc_id, n_marks, n_zero_width,
           CAST(len(regexp_extract_all(clean, '{_UC_EACUTE}')) AS BIGINT)
               AS n_composed,
           CAST(length(clean) AS BIGINT) AS clean_len,
           sha256(clean) AS clean_sha
    FROM cleaned
    ORDER BY doc_id
    """,
    tags=("textops", "curation"),
)
def text_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization — NFC compose + invisible-character
    scrub, digest-checked. Decomposed accents ('e'+U+0301) and
    zero-width code points make visually identical text hash
    differently, silently defeating exact dedup (dedup_exact) and
    inflating BPE vocabularies; every public corpus normalizes before
    fingerprinting. The fixture corpus is ASCII-clean, so a
    deterministic dirty variant is derived per doc (same rule in the
    oracle); ``n_composed`` must equal ``n_marks`` row-for-row — the
    proof canonical composition actually ran (an identity pass would
    leave bare combining marks that U+00E9 cannot match) — and
    ``clean_sha`` pins the placement of every edit.

    NFC itself is the one step SQL builtins cannot express: it crosses
    to Python ONCE as an Arrow-batched scalar ``pandas_udf``
    (ArrowEvalPython — never row-pickled BatchEvalPython); all
    counting, scrubbing, and digesting stays in whole-stage codegen.

    Scale shape: a single narrow map over the corpus — no shuffle but
    the presentation sort; at 100 TB this is scan-bound and
    embarrassingly parallel, the same contract as curation_pii_scrub."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.replace(
                F.replace(F.col("text"), F.lit("e"), F.lit("e" + _UC_MARK)),
                F.lit(" th"),
                F.lit(" " + _UC_ZWSP + "th"),
            ),
            F.lit(_UC_TAIL),
        ).alias("t"),
    )
    clean = unicode_clean_col(F.col("t"))
    return (
        aug.select(
            "doc_id",
            F.regexp_count(F.col("t"), F.lit(_UC_MARK))
            .cast("long")
            .alias("n_marks"),
            F.regexp_count(F.col("t"), F.lit(_UC_ZW_CLASS))
            .cast("long")
            .alias("n_zero_width"),
            clean.alias("clean"),
        )
        .select(
            "doc_id",
            "n_marks",
            "n_zero_width",
            F.regexp_count(F.col("clean"), F.lit(_UC_EACUTE))
            .cast("long")
            .alias("n_composed"),
            F.length("clean").cast("long").alias("clean_len"),
            F.sha2(F.col("clean"), 256).alias("clean_sha"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_html_extract",
    headline=True,
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents
    ),
    halves AS (
        SELECT doc_id, len(w) AS n, (len(w) + 1) // 2 AS k,
               array_to_string(list_slice(w, 1, (len(w) + 1) // 2), ' ')
                   AS first,
               array_to_string(
                   list_slice(w, (len(w) + 1) // 2 + 1, len(w)), ' ')
                   AS second
        FROM words
    ),
    expected AS (
        SELECT doc_id,
               CASE WHEN n = 0 THEN ''
                    WHEN k = n THEN first
                    ELSE first || chr(10) || second END AS body
        FROM halves
    )
    SELECT e.doc_id,
           'Doc ' || CAST(e.doc_id AS VARCHAR) AS title,
           sha256(e.body) AS text_digest,
           CAST(length(e.body) AS BIGINT) AS n_chars,
           CAST(CASE WHEN h.n = 0 THEN 0
                     WHEN h.k = h.n THEN 1 ELSE 2 END AS BIGINT)
               AS n_paragraphs,
           CAST(e.doc_id % 3 AS BIGINT) AS n_links
    FROM expected e JOIN halves h USING (doc_id)
    ORDER BY e.doc_id
    """,
    tags=("textops",),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-text extraction — the stage between a WARC scan and
    every text operator here, since real crawl payloads are markup:
    each doc's text is wrapped in a realistic page (title, style block,
    a nav with its own link and a FAKE <p> inside, the body split into
    two paragraphs at the word midpoint, doc_id%3 countable anchors, a
    script whose string literal contains more fake markup, a footer)
    and the engine's stdlib-parser extractor (functions/htmltext.py)
    must recover EXACTLY the planted text: boilerplate regions
    suppressed, entities unescaped, whitespace normalized, paragraphs
    newline-joined. The oracle states the expected extraction in
    closed form from the raw text, and the sha256 of the extracted
    body must match it — one leaked nav token or swallowed word
    hash-fails. Links are counted only outside boilerplate (the nav's
    own anchor must NOT count)."""
    import html as html_mod

    from ..functions.htmltext import extract_main_text

    schema = (
        "doc_id bigint, title string, text_digest string, n_chars bigint, "
        "n_paragraphs bigint, n_links bigint"
    )

    def row(doc_id, text):
        i = int(doc_id)
        words = [w for w in (text or "").split(" ") if w]
        k = (len(words) + 1) // 2
        first = html_mod.escape(" ".join(words[:k]))
        second = html_mod.escape(" ".join(words[k:]))
        links = '<a href="#"></a>' * (i % 3)
        page = (
            f"<html><head><title>Doc {i}</title>"
            "<style>p{color:red}</style></head>"
            "<body><nav>BOILER <a href='#'>skip</a>"
            "<p>fake para</p></nav>"
            f"<p>{first}</p><p>{second}</p>{links}"
            "<script>var a='<p>evil</p>';</script>"
            "<footer>MORE BOILER</footer></body></html>"
        )
        r = extract_main_text(page)
        return (
            doc_id,
            r["title"],
            hashlib.sha256(r["text"].encode()).hexdigest(),
            len(r["text"]),
            r["n_paragraphs"],
            r["n_links"],
        )

    return per_doc_map(spark, sf_dir, ("doc_id", "text"), schema, row)
