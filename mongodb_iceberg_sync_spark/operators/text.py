"""Text analysis operators (north-star LLM-pipeline surface).

Language-ID, quality scoring, token counting, fingerprinting — all as
JVM-side expressions over `documents` (no Python in the hot path), so a
100 TB corpus streams through whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register
from ._util import spread, t


@register(
    "q_text_tokenize",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT lang,
           count(*)            AS n_tokens,
           count(DISTINCT tok) AS n_distinct_tokens
    FROM toks GROUP BY lang
    """,
    doc="Tokenize + per-language token counts (split→explode→agg).",
)
def q_text_tokenize(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


@register(
    "q_text_search",
    family="text",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t = 'spark')) AS BIGINT)
             AS n_hits
    FROM documents
    WHERE len(list_filter(string_split(text, ' '), t -> t = 'spark')) > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 20
    """,
    doc="Term search + frequency ranking: top-20 docs by hit count for "
    "the term 'spark'.",
)
def q_text_search(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    hits = F.size(F.filter(F.split("text", " "), lambda tk: tk == "spark")).cast("long")
    return (
        d.select("doc_id", hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(20)
    )


@register(
    "q_text_stats",
    family="text",
    oracle="""
    SELECT source,
           count(*)                                        AS n_docs,
           round(avg(n_chars), 6)                          AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(DISTINCT lang)                            AS n_langs
    FROM documents GROUP BY source
    """,
    doc="Per-source corpus stats: docs, avg chars, tokens, languages.",
)
def q_text_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "q_text_quality",
    family="text",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             CAST(n_chars AS DOUBLE) AS chars
      FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct,
           round(n_distinct / n_tokens, 6)                       AS ttr,
           round(chars / n_tokens, 6)                            AS avg_tok_len,
           round(0.5 * (n_distinct / n_tokens)
                 + 0.5 * least(chars / n_tokens / 8.0, 1.0), 6)  AS quality_score
    FROM m WHERE n_tokens > 0
    """,
    doc="Quality scoring: type-token ratio + length signals combined "
    "into a bounded score (the classic cheap pre-filter before "
    "expensive model-based scoring).",
)
def q_text_quality(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.col("n_chars").cast("double").alias("chars"),
    ).filter(F.col("n_tokens") > 0)
    ttr = F.col("n_distinct") / F.col("n_tokens")
    atl = F.col("chars") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(ttr, 6).alias("ttr"),
        F.round(atl, 6).alias("avg_tok_len"),
        F.round(0.5 * ttr + 0.5 * F.least(atl / 8.0, F.lit(1.0)), 6).alias(
            "quality_score"
        ),
    )


@register(
    "q_text_token_count",
    family="text",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)              AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT)    AS subword_tokens
    FROM documents
    """,
    doc="Token counting three ways: whitespace, word-regex, and a "
    "BPE-ish bounded-subword regex (greedy ≤4-char chunks approximating "
    "subword segmentation).",
)
def q_text_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("long")
        .alias("subword_tokens"),
    )


# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language-ID (deterministic; a real system would load fastText-style
# profiles — the *operator shape* is what matters: score = dot(profile,
# token histogram) per language, argmax).
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "de", "et", "que"),
    "zh": ("de", "le", "shi", "he", "zai"),
}


def lang_id_pred_col(text_col) -> "F.Column":
    """Predicted-language expression: argmax stopword-profile score, ties
    broken by alphabetically FIRST language. array_max compares struct
    fields in order (score, then anti_rank); anti_rank descends through
    the alphabetically-sorted language list, so on equal scores the
    earliest language carries the highest anti_rank and wins."""
    toks = F.split(text_col, " ")
    langs = sorted(_LANG_PROFILES)
    scores = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda tk: tk.isin(*_LANG_PROFILES[lang]))).alias(
                    "score"
                ),
                F.lit(len(langs) - 1 - i).alias("anti_rank"),
                F.lit(lang).alias("plang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    return F.array_max(scores).getField("plang")


def _lang_id_oracle() -> str:
    """DuckDB oracle generated from the SAME _LANG_PROFILES constant so
    profile edits can't drift the two engines apart. The CASE cascade
    ('first lang in alphabetical order whose score >= every later
    score') is exactly argmax with alphabetically-first tie-break."""
    langs = sorted(_LANG_PROFILES)
    scores = ",\n             ".join(
        "len(list_filter(string_split(text, ' '), t -> t IN ({}))) AS s_{}".format(
            ", ".join(f"'{w}'" for w in _LANG_PROFILES[lang]), lang
        )
        for lang in langs
    )
    whens = "\n               ".join(
        "WHEN {} THEN '{}'".format(
            " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1 :]),
            lang,
        )
        for i, lang in enumerate(langs[:-1])
    )
    return f"""
    SELECT lang, pred_lang, count(*) AS n
    FROM (
      SELECT lang,
             CASE {whens}
               ELSE '{langs[-1]}' END AS pred_lang
      FROM (
        SELECT lang,
             {scores}
        FROM documents
      )
    )
    GROUP BY lang, pred_lang
    """


@register(
    "q_text_lang_id",
    family="text",
    oracle=_lang_id_oracle(),
    doc="Heuristic language-ID: score each doc against per-language "
    "stopword profiles (token-histogram dot product, argmax with "
    "alphabetical tie-break), report confusion counts vs the labeled "
    "lang column. Oracle SQL is generated from the same profile table "
    "(CASE cascade = first-max-alphabetically), so the confusion "
    "matrix is exact-hash-checked.",
)
def q_text_lang_id(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    pred = d.select("doc_id", "lang", lang_id_pred_col("text").alias("pred_lang"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


@register(
    "q_text_fingerprint",
    family="text",
    oracle="""
    SELECT doc_id,
           md5(coalesce(
             array_to_string(list_slice(list_sort(grams), 1, 4), ','), ''
           )) AS fingerprint,
           len(grams)::BIGINT AS n_grams
    FROM (
      SELECT doc_id,
             list_transform(
               range(1, len(string_split(text, ' ')) - 3),
               i -> md5(array_to_string(
                      list_slice(string_split(text, ' '), i, i + 4), ' '))
             ) AS grams
      FROM documents
    )
    """,
    doc="Document fingerprinting: min-4 sketch of rolling word-5-gram "
    "hashes (winnowing-style). Equal fingerprints ⇒ near-identical "
    "prefix-structure; used as a cheap near-dup blocking key. Gram "
    "hashes are md5 hex strings (bit-identical across engines, so the "
    "sketch is exact-hash-checked against DuckDB, not rows-only); the "
    "whole pipeline is JVM-side array expressions — no shuffle, no "
    "Python.",
)
def q_text_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    k = F.size(toks) - 4
    # guard: sequence(1, 0) is DESCENDING in Spark — short docs → empty
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 5))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sketch = F.slice(F.array_sort(grams), 1, 4)
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(",", sketch)).alias("fingerprint"),
        F.size(grams).cast("long").alias("n_grams"),
    )


@register(
    "q_text_vocab",
    family="text",
    oracle="""
    SELECT token, n_occurrences, n_docs
    FROM (
      SELECT t AS token,
             count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
      )
      GROUP BY t
    )
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
    doc="Corpus vocabulary: top-100 tokens by occurrence count with "
    "document frequency. Explode + two-level aggregate; map-side "
    "partial aggregation shrinks the shuffle to one row per distinct "
    "(partition, token); ORDER BY count DESC with token tie-break "
    "makes the top-100 SET deterministic (hash-checked). The orderBy+"
    "limit compiles to TakeOrderedAndProject — per-partition heap, "
    "never a global sort of the vocabulary.",
)
def q_text_vocab(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(100)
    )


@register(
    "q_text_quality_filter",
    family="text",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             CAST(n_chars AS DOUBLE) AS chars
      FROM documents
    )
    SELECT doc_id, lang, source, n_tokens,
           round(0.5 * (n_distinct / n_tokens)
                 + 0.5 * least(chars / n_tokens / 8.0, 1.0), 6) AS quality_score
    FROM m
    WHERE n_tokens >= 20
      AND n_distinct / n_tokens > 0.3
      AND 0.5 * (n_distinct / n_tokens)
          + 0.5 * least(chars / n_tokens / 8.0, 1.0) >= 0.5
    """,
    doc="C4-style cleaning filter chain: minimum length, type-token "
    "ratio, and combined quality score thresholds applied as ONE "
    "conjunctive predicate — a pure map-side filter (no shuffle), so "
    "at 100 TB it streams through the scan at I/O speed and composes "
    "with partition pruning. The surviving-docs set is exact-hash-"
    "checked against DuckDB.",
)
def q_text_quality_filter(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.col("n_chars").cast("double").alias("chars"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    score = 0.5 * ttr + 0.5 * F.least(
        F.col("chars") / F.col("n_tokens") / 8.0, F.lit(1.0)
    )
    return (
        m.filter(
            (F.col("n_tokens") >= 20) & (ttr > 0.3) & (score >= 0.5)
        )
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.round(score, 6).alias("quality_score"),
        )
    )


@register(
    "q_text_fuzzy_match",
    family="text",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, substr(text, 1, 24) AS blk FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 40
    """,
    doc="Fuzzy matching via blocked edit distance: candidates share a "
    "24-char prefix block (equi-join — levenshtein is O(len^2) per "
    "pair, so it must NEVER run on the cross product), then exact "
    "Levenshtein <= 40 verifies. Both engines implement plain "
    "Wagner-Fischer edit distance, so the integer distances "
    "hash-match. At 100 TB swap the prefix block for the minhash/LSH "
    "band buckets (operators.dedup) — same verify step, recall-tunable "
    "blocking.",
)
def q_text_fuzzy_match(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 24).alias("blk")
    )
    a, b = d.alias("a"), d.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 40)
    )


@register(
    "q_text_tfidf",
    family="text",
    oracle="""
    WITH tf AS (
      SELECT doc_id, s AS token, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents)
      GROUP BY doc_id, s
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rn
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf, rn AS rank
    FROM scored WHERE rn <= 3 AND doc_id < 200
    """,
    doc="TF-IDF top-3 distinctive tokens per doc: term frequency per "
    "(doc, token), document frequency per token, idf = ln(N/df). "
    "RANKING is integer-only (tf desc, df asc, token) so both engines "
    "order identically; the float tfidf column is rounded to 6. "
    "Shapes: two map-side-combinable aggs + a token-keyed join — the "
    "df relation is vocabulary-sized, naturally broadcastable after "
    "aggregation; doc_id < 200 bounds the compared output, the stats "
    "run corpus-wide.",
)
def q_text_tfidf(spark, sf_dir):
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token")
    )
    return (
        tf.join(df, "token")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 200))
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


@register(
    "q_text_decontaminate",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 4, 0) + 1),
                      i -> array_to_string(list_slice(l, i, i + 4), ' '))) AS g
        FROM toks
      )
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
    SELECT doc_id, count(*) AS n_hits
    FROM grams JOIN bench USING (g)
    WHERE doc_id % 50 != 0
    GROUP BY doc_id
    """,
    doc="Benchmark decontamination: flag training docs sharing any "
    "word-5-gram with a held-out benchmark set (docs with doc_id % 50 "
    "== 0 stand in for the eval set). The standard pre-training "
    "hygiene step (GPT-3 appendix C / PaLM style n-gram overlap). "
    "Benchmark shingles are DISTINCT and tiny relative to the corpus, "
    "so they broadcast to an equi-join against corpus shingles — at "
    "100 TB the corpus streams map-side against a benchmark shingle "
    "set that fits in memory; no corpus-side shuffle at all before "
    "the per-doc count.",
)
def q_text_decontaminate(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    gram5 = F.when(
        F.size("l") >= 5,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(l) - 4),"
                " i -> concat_ws(' ', slice(l, i, 5)))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", F.explode(gram5).alias("g"))
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


@register(
    "q_text_repetition",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    words AS (SELECT doc_id, unnest(l) AS w FROM toks),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS mx FROM wc GROUP BY 1),
    base AS (
      SELECT doc_id, len(l) AS n,
             CASE WHEN len(l) >= 2 THEN
               list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
             ELSE [] END AS g2
      FROM toks
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_tokens,
           round(t.mx / CAST(b.n AS DOUBLE), 6) AS top_word_ratio,
           round(CASE WHEN len(b.g2) > 0
                      THEN 1.0 - len(list_distinct(b.g2)) / CAST(len(b.g2) AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_2gram_frac
    FROM base b JOIN top t USING (doc_id)
    """,
    doc="Gopher-style repetition signals per document: top-word "
    "fraction (most frequent token / total tokens) and duplicate "
    "2-gram fraction — the repetition filters a pre-training cleaning "
    "pipeline applies before training. Word counts are an "
    "explode + two-level aggregation (map-side combinable, keyed on "
    "doc_id — embarrassingly parallel at 100 TB); the 2-gram "
    "duplicate fraction never leaves the row (array HOF in codegen).",
)
def q_text_repetition(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    words = d.select("doc_id", F.explode("l").alias("w"))
    top = (
        words.groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mx"))
    )
    g2 = F.when(
        F.size("l") >= 2,
        F.expr(
            "transform(sequence(1, size(l) - 1),"
            " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = d.select("doc_id", F.size("l").cast("long").alias("n_tokens"), g2.alias("g2"))
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("mx") / F.col("n_tokens").cast("double"), 6).alias(
            "top_word_ratio"
        ),
        F.round(
            F.when(
                F.size("g2") > 0,
                1.0 - F.size(F.array_distinct("g2")) / F.size("g2").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_2gram_frac"),
    )


_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+1-\d{3}-\d{3}-\d{4}"
_PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@register(
    "q_text_pii_redact",
    family="text",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' ||
             source || '.org or +1-555-' ||
             lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST(doc_id % 100 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(
               regexp_replace(text, '{_PII_PHONE}', '[PHONE]', 'g'), '{_PII_IP}'
           )) AS BIGINT) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IP}', '[IP]', 'g') AS redacted
    FROM seeded
    """,
    doc="PII redaction — the scrub step every training-data pipeline "
    "runs before packing: emails, NANP phone numbers, and IPv4 "
    "addresses are counted then masked with sentinel tokens. The "
    "synthetic corpus carries no PII, so the query deterministically "
    "plants one of each (derived from doc_id/source, identically in "
    "the oracle) to prove the patterns really fire. Pure JVM-side "
    "regexp_replace/regexp_extract_all inside whole-stage codegen — "
    "no UDF, no shuffle, map-only: at 100 TB this runs at scan "
    "throughput with zero exchanges. Phone is masked before IP "
    "counting so digit runs inside phone numbers can't double-count.",
)
def q_text_pii_redact(spark, sf_dir):
    seeded = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".org or +1-555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    no_phone = F.regexp_replace("text", _PII_PHONE, "[PHONE]")
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
        .cast("bigint")
        .alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), 0))
        .cast("bigint")
        .alias("n_phone"),
        F.size(F.regexp_extract_all(no_phone, F.lit(_PII_IP), 0))
        .cast("bigint")
        .alias("n_ip"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _PII_EMAIL, "[EMAIL]"),
                _PII_PHONE,
                "[PHONE]",
            ),
            _PII_IP,
            "[IP]",
        ).alias("redacted"),
    )


@register(
    "q_text_lm_score",
    family="text",
    oracle="""
    WITH tx AS (
      SELECT doc_id, lower(text) AS s FROM documents WHERE len(text) >= 3
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(s) - 1),
                    i -> substr(s, i, 3))) AS gram
      FROM tx
    ),
    model AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM model)
    SELECT doc_id,
           count(*) AS n_grams,
           round(CAST(sum(CAST(round(ln(c / t), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / count(*), 4) + 0.0 AS avg_logprob
    FROM g JOIN model USING (gram) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Character-trigram language-model scoring — the KenLM-style "
    "quality signal (CCNet / Gopher filtering): train unigram-over-"
    "trigram stats on the corpus itself, score each doc by mean log "
    "probability of its trigrams. Low scores mark gibberish/boiler-"
    "plate. The model is a grouped count whose cardinality is bounded "
    "by the trigram alphabet (tiny), so it BROADCASTS back onto the "
    "exploded gram stream — the corpus is scanned twice (train, "
    "score) but never shuffled on doc content; at 100 TB you train "
    "the model on a sample and only the scoring pass remains. "
    "Per-gram log-probs are rounded then decimal-summed so "
    "summation order cannot flip the hash.",
)
def q_text_lm_score(spark, sf_dir):
    # fan the corpus out BEFORE the explode: the source is few parquet
    # files, and a 300x row explosion inherits the scan's parallelism —
    # unspread, the trigram expansion runs on one core
    tx = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("doc_id", F.lower("text").alias("s"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Explode an INT sequence and slice with a plain codegen substring —
    # the earlier transform() HOF allocated an array of ~300 strings per
    # doc inside an interpreted lambda (2.7x slower cold). Then collapse
    # to per-doc gram COUNTS before anything else: the checkpoint holds
    # (doc_id, gram, k) — ~5x fewer rows than the raw gram stream — and
    # the scoring join + final agg ride on counts. sum(k*lp) over exact
    # decimals == sum of k copies of lp, so the oracle is unchanged.
    gcounts = (
        tx.select("doc_id", "s", F.explode(F.expr("sequence(1, length(s) - 2)")).alias("i"))
        .select("doc_id", F.expr("substring(s, i, 3)").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("k"))
        .localCheckpoint(eager=False)
    )
    model = gcounts.groupBy("gram").agg(F.sum("k").alias("c"))
    total = model.agg(F.sum("c").cast("bigint")).head()[0]
    lp = F.round(F.log(F.col("c") / F.lit(total)), 6).cast("decimal(18,6)")
    return (
        gcounts.join(F.broadcast(model), "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_grams"),
            (
                F.round(F.sum(F.col("k") * lp).cast("double") / F.sum("k"), 4) + 0.0
            ).alias("avg_logprob"),
        )
    )


@register(
    "q_text_normalize",
    family="text",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
           CAST(len(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS norm_len
    FROM documents
    """,
    doc="Text canonicalization — the normalize-before-dedup step "
    "(exact dedup on raw bytes misses trivially-reformatted copies): "
    "lowercase, strip non-alphanumerics to spaces, collapse runs, "
    "trim. Dedup keys (q_dedup_exact's sha2) should hash THIS, not "
    "raw text. Map-only regexp chain in whole-stage codegen — scan "
    "throughput at any scale, zero exchanges.",
)
def q_text_normalize(spark, sf_dir):
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


_INV_TOPK = 20  # terms reported
_INV_POST = 15  # postings kept per term


@register(
    "q_text_inverted_index",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    dfc AS (SELECT term, count(*) AS df FROM tok2 GROUP BY term),
    top AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM tok2
    ),
    post AS (
      SELECT term, list(doc_id ORDER BY doc_id) AS ids
      FROM top WHERE rn <= {_INV_POST} GROUP BY term
    )
    SELECT d.term, CAST(d.df AS BIGINT) AS df,
           array_to_string(p.ids, ',') AS postings
    FROM dfc d JOIN post p ON d.term = p.term
    ORDER BY d.df DESC, d.term
    LIMIT {_INV_TOPK}
    """,
    doc="Inverted-index build (the IR primitive behind BM25/keyword "
    "retrieval over a corpus): term → document frequency + a bounded "
    "posting-list prefix. Deliberately NOT collect_set(doc_id) per "
    "term — at 100 TB a stopword's posting set is the whole corpus "
    "and would OOM the aggregate; instead df is a partial-aggregated "
    "count and the stored postings are capped at the first "
    f"{_INV_POST} doc_ids via a keyed row_number window, so state "
    "per term is O(cap) regardless of term frequency. Both legs "
    "share the term-hash shuffle partitioning; the final top-20 is "
    "TakeOrderedAndProject.",
)
def q_text_inverted_index(spark, sf_dir):
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    dfc = tok.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    post = (
        tok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _INV_POST)
        .groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings")
        )
    )
    return (
        dfc.join(post, "term")
        .orderBy(F.col("df").desc(), "term")
        .limit(_INV_TOPK)
        .select("term", "df", "postings")
    )


_BM25_TERMS = ("spark", "query", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TOPK = 20


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS BIGINT)"
        f" AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    stat_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # per-term scores rounded to 6 then decimal-added left-to-right:
    # the total is exact, so ORDER BY is engine-independent
    score = " + ".join(
        f"CAST(round(ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        f" * tf{i} * ({_BM25_K1} + 1.0)"
        f" / (tf{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / s.avgdl)),"
        f" 6) AS DECIMAL(18,6))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tf AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
             {tf_cols}
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n,
             sum(dl) * 1.0 / count(*) AS avgdl,
             {stat_cols}
      FROM tf
    )
    SELECT doc_id, dl, CAST(({score}) AS DOUBLE) AS bm25
    FROM tf CROSS JOIN stats s
    WHERE tf0 + tf1 + tf2 > 0
    ORDER BY ({score}) DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


@register(
    "q_text_bm25",
    family="text",
    oracle=_bm25_oracle(),
    doc="BM25 ranked retrieval (Robertson-Sparck Jones idf, k1=1.2 "
    "b=0.75) for a fixed 3-term query — the scoring function behind "
    "keyword search over the corpus, complementing q_text_tfidf "
    "(weights) and q_text_inverted_index (postings). Plan: term "
    "frequencies come from JVM-side array HOFs (size(filter(...))) "
    "per document — MAP-ONLY, no tokenize-explode shuffle — and the "
    "corpus statistics (N, avgdl, per-term df) are ONE 1-row "
    "aggregate broadcast back; scoring is row-local arithmetic and "
    "the top-20 is TakeOrderedAndProject. Two scans total, zero "
    "wide shuffles — at 100 TB this is scan-throughput-bound. "
    "Determinism: per-term scores round to 6 decimals then add as "
    "exact decimals left-to-right (the lm_score pattern), so the "
    "ranking ORDER itself is engine-independent.",
)
def q_text_bm25(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tf = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        # tf = |toks| - |toks without the term| (array_remove drops every
        # occurrence) — pure JVM expressions, no lambda capture pitfalls
        *[
            (F.size(toks) - F.size(F.array_remove(toks, trm)))
            .cast("long")
            .alias(f"tf{i}")
            for i, trm in enumerate(_BM25_TERMS)
        ],
    )
    stats = tf.agg(
        F.count("*").alias("n"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = tf.join(F.broadcast(stats))
    total = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        s = idf * F.col(f"tf{i}") * (_BM25_K1 + 1.0) / (
            F.col(f"tf{i}")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        s6 = F.round(s, 6).cast("decimal(18,6)")
        total = s6 if total is None else total + s6
    return (
        scored.filter(F.col("tf0") + F.col("tf1") + F.col("tf2") > 0)
        .select("doc_id", "dl", total.alias("_t"))
        .orderBy(F.col("_t").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", "dl", F.col("_t").cast("double").alias("bm25"))
    )


_COLL_TOPK = 20


@register(
    "q_text_collocations",
    family="text",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    bi AS (
      SELECT u.p[1] AS w1, u.p[2] AS w2
      FROM toks, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(p)
      WHERE u.p[1] <> '' AND u.p[2] <> ''
    ),
    bc AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
    uni AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS cu FROM (
        SELECT w1 AS w, c FROM bc UNION ALL SELECT w2 AS w, c FROM bc
      ) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bc)
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS pair_count,
           round(ln((b.c * 1.0 * t.n) / (u1.cu * 1.0 * u2.cu)), 6) + 0.0 AS pmi
    FROM bc b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN tot t
    ORDER BY b.c DESC, b.w1, b.w2
    LIMIT {_COLL_TOPK}
    """,
    doc="Collocation mining: adjacent-token bigram counts with PMI "
    "scores — the phrase-detection pass (word2vec's phrase step, "
    "tokenizer merge candidates) every corpus pipeline runs. "
    "Unigram totals derive FROM the bigram table (sum of incident "
    "pair counts), so the whole statistic needs one corpus pass: "
    "bigrams explode map-side, count partial-aggregates, unigram "
    "marginals are a second small aggregation over the BIGRAM "
    "table (vocab-sized, not corpus-sized), and the scalar total "
    "broadcasts. PMI's ln rides a single division of exact "
    "integers (bitwise inputs), rounded once; ORDER is by exact "
    "integer count with full tie-break.",
)
def q_text_collocations(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # adjacent pairs = zip(tokens[:-1], tokens[1:]) — two slices + one
    # zip, no per-index element_at chain (the index-sequence form built
    # an O(n) struct array with per-element array probes)
    n_t = F.size(toks)
    bi = (
        d.select(
            F.explode(
                F.arrays_zip(
                    F.slice(toks, F.lit(1), n_t - 1).alias("w1"),
                    F.slice(toks, F.lit(2), n_t - 1).alias("w2"),
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # bc feeds FOUR consumers (two unigram legs, the total, the join
    # base) — checkpoint so the bigram explode+agg runs once, not four
    # times; the pinned relation is vocab²-bounded, not corpus-sized
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("c")).localCheckpoint(
        eager=False
    )
    uni = (
        bc.select(F.col("w1").alias("w"), "c")
        .unionAll(bc.select(F.col("w2").alias("w"), "c"))
        .groupBy("w")
        .agg(F.sum("c").cast("long").alias("cu"))
    )
    tot = bc.agg(F.sum("c").cast("long").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    return (
        bc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("pair_count"),
            (
                F.round(
                    F.log(
                        (F.col("c") * 1.0 * F.col("n"))
                        / (F.col("cu1") * 1.0 * F.col("cu2"))
                    ),
                    6,
                )
                + 0.0
            ).alias("pmi"),
        )
        .orderBy(F.col("pair_count").desc(), "w1", "w2")
        .limit(_COLL_TOPK)
    )


_ZIPF_TOP = 200


@register(
    "q_text_zipf",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
    top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT {_ZIPF_TOP}),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM top
    ),
    terms AS (
      SELECT CAST(round(ln(rk), 6) AS DECIMAL(18,6)) AS x,
             CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y,
             CAST(round(ln(rk) * ln(rk), 6) AS DECIMAL(18,6)) AS xx,
             CAST(round(ln(rk) * ln(c), 6) AS DECIMAL(18,6)) AS xy
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(xx) AS DOUBLE) AS sxx, CAST(sum(xy) AS DOUBLE) AS sxy
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS zipf_slope,
           ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
             AS log_intercept
    FROM s
    """,
    doc="Zipf-law fit: log-log OLS slope of the rank-frequency curve "
    f"over the top-{_ZIPF_TOP} tokens — the corpus-health diagnostic "
    "(natural text sits near slope -1; template/spam corpora deviate "
    "sharply). Frequencies and ranks are exact integers; each log "
    "term is rounded then decimal-summed (the registry's log "
    "pattern) so the regression inputs — and hence the slope, an "
    "identical float expression — match bitwise. Scale: vocab "
    "counts partial-aggregate; the top-K is TakeOrderedAndProject; "
    "the ranking window's input is LIMIT K rows (a constant), so "
    "the 'global' window is O(K), never corpus-sized.",
)
def q_text_zipf(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    top = cnt.orderBy(F.col("c").desc(), "w").limit(_ZIPF_TOP)
    w_rk = Window.orderBy(F.col("c").desc(), "w")  # input is LIMIT K rows
    ranked = top.select("c", F.row_number().over(w_rk).alias("rk"))
    lnrk, lnc = F.log("rk"), F.log("c")
    terms = ranked.select(
        F.round(lnrk, 6).cast("decimal(18,6)").alias("x"),
        F.round(lnc, 6).cast("decimal(18,6)").alias("y"),
        F.round(lnrk * lnrk, 6).cast("decimal(18,6)").alias("xx"),
        F.round(lnrk * lnc, 6).cast("decimal(18,6)").alias("xy"),
    )
    s = terms.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_terms"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("log_intercept"),
    )


def compress_ratio_batches():
    """Arrow-batched zlib compression-ratio kernel: bytes cross to
    Python once per batch; zlib level 6 is deterministic for a given
    zlib build (pinned by the differential test, not an oracle —
    DuckDB cannot run zlib)."""
    import zlib

    import pandas as pd

    def _batches(batches):
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw.map(len),
                    "compressed_bytes": comp,
                }
            )

    return _batches


@register(
    "q_text_compress_ratio",
    family="text",
    oracle=None,  # zlib kernel — pinned by tests/test_text.py
    doc="Compression-ratio quality signal (Gopher/Dolma rule family): "
    "compressed/raw byte ratio per document — highly repetitive or "
    "templated text compresses far below natural prose, making this "
    "one of the cheapest high-precision spam filters. zlib runs in "
    "an Arrow-batched mapInPandas kernel (bytes cross once per "
    "batch); the ratio and the keep/flag verdict are JVM-side. "
    "Scale: embarrassingly parallel map over the corpus — zero "
    "shuffles (the output rides the scan partitioning); flagged "
    "share is whatever downstream wants to aggregate.",
)
def q_text_compress_ratio(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    stats = d.mapInPandas(
        compress_ratio_batches(),
        "doc_id long, raw_bytes long, compressed_bytes long",
    )
    ratio = F.col("compressed_bytes") / F.col("raw_bytes")
    return stats.select(
        "doc_id",
        "raw_bytes",
        "compressed_bytes",
        F.round(ratio, 6).alias("compress_ratio"),
        (ratio < 0.35).alias("flag_repetitive"),
    )


_BPE_TOPK = 50


@register(
    "q_text_bpe_pairs",
    family="text",
    oracle=f"""
    WITH words AS (
      SELECT u.w AS w FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE u.w <> ''
    ),
    vocab AS (SELECT w, count(*) AS freq FROM words GROUP BY w),
    pairs AS (
      SELECT u.p[1] AS c1, u.p[2] AS c2, v.freq
      FROM (SELECT w, freq, string_split(w, '') AS cl FROM vocab) v,
           unnest(list_zip(cl[1:len(cl)-1], cl[2:len(cl)])) AS u(p)
    )
    SELECT c1, c2, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY c1, c2
    ORDER BY pair_count DESC, c1, c2
    LIMIT {_BPE_TOPK}
    """,
    doc="BPE merge-candidate counting — the inner loop of tokenizer "
    "training: corpus-weighted frequency of adjacent symbol pairs "
    "WITHIN words, top-50 merge candidates. The two-level shape is "
    "the whole scale story: the corpus pass collapses to a "
    "vocab-sized (word, freq) table first, and the character-pair "
    "explode runs over DISTINCT words weighted by freq — per merge "
    "iteration the work is O(vocab), not O(corpus), exactly why "
    "production BPE trainers operate on a word-frequency table. Both "
    "aggregations are map-side combinable; counts are exact integers "
    "with full (count, c1, c2) ordering so the top-k is "
    "deterministic. Complements q_text_collocations (cross-word "
    "bigram PMI) at the sub-word level.",
)
def q_text_bpe_pairs(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    chars = F.split(F.col("w"), "")
    n_c = F.size(chars)
    pairs = (
        vocab.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(chars, F.lit(1), n_c - 1).alias("c1"),
                    F.slice(chars, F.lit(2), n_c - 1).alias("c2"),
                )
            ).alias("p"),
        )
        .select(F.col("p.c1").alias("c1"), F.col("p.c2").alias("c2"), "freq")
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "c1", "c2")
        .limit(_BPE_TOPK)
    )


_FH_BUCKETS = 64


@register(
    "q_text_feature_hash",
    family="text",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.w AS w
      FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE u.w <> ''
    ),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 6)) AS BIGINT) % {_FH_BUCKETS}
               AS bucket
      FROM toks
    ),
    cnts AS (
      SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
      FROM cnts GROUP BY doc_id
    )
    SELECT c.doc_id AS doc_id, CAST(c.bucket AS BIGINT) AS bucket,
           CAST(c.c AS BIGINT) AS cnt,
           CAST(c.c AS DOUBLE) / n.nrm AS weight
    FROM cnts c JOIN norms n ON n.doc_id = c.doc_id
    ORDER BY c.doc_id, bucket
    """,
    doc="Feature hashing (the 'hashing trick') — the vocabulary-free "
    "featurizer for linear probes / quality classifiers at corpus "
    "scale: each token hashes straight into one of 64 buckets via the "
    "first 6 hex digits of md5 (an engine-neutral hash — Spark's "
    "conv(hex,16,10) and the oracle's 0x-cast parse the same "
    "string), per-doc bucket counts L2-normalize into sparse vector "
    "entries. NO vocabulary pass, no global state, no join against a "
    "dictionary — the property that makes this THE featurizer when "
    "the vocab itself would be a 100 GB table. Both aggregations key "
    "on doc_id(+bucket) so the normalizing join is co-partitioned; "
    "weights are exact-integer counts over one correctly-rounded "
    "sqrt and one division — bitwise identical cross-engine.",
)
def q_text_feature_hash(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 6), 16, 10).cast("long") % _FH_BUCKETS
    )
    cnts = (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    # the L2 norm is a per-doc window over the tiny (doc, bucket) table,
    # not a groupBy + self-join — one fewer shuffle, no join at all
    nrm = F.sqrt(
        F.sum(F.col("c") * F.col("c"))
        .over(Window.partitionBy("doc_id"))
        .cast("double")
    )
    return (
        cnts.select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("c").cast("long").alias("cnt"),
            (F.col("c").cast("double") / nrm).alias("weight"),
        )
        .orderBy("doc_id", "bucket")
    )


@register(
    "q_text_readability",
    family="text",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
               AS words,
             CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS sentences,
             CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0 THEN
             round(206.835
                   - 1.015 * (CAST(words AS DOUBLE) / sentences)
                   - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
           END AS flesch
    FROM c ORDER BY doc_id
    """,
    doc="Flesch reading-ease per document from three EXACT integer "
    "counts — words ([A-Za-z]+ runs), sentences (terminal-punct "
    "runs, floored at 1), and a syllable proxy (vowel-group runs, "
    "the standard dictionary-free approximation). The famous "
    "206.835 - 1.015*(W/S) - 84.6*(Sy/W) formula is then two float "
    "divisions + fixed-point arithmetic on identical doubles, so "
    "both engines agree bit-for-bit before the final round. All "
    "three counts are single-regex codegen scans (regexp_count) — "
    "zero Python, zero shuffle; the whole operator is map-only and "
    "embarrassingly parallel at any corpus size. Readability is a "
    "core quality-filter signal for training-data curation "
    "(complexity-band mixing, gibberish rejection).",
)
def q_text_readability(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit("[A-Za-z]+")).cast("long")
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("long"), F.lit(1)
    )
    sylls = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "long"
    )
    c = d.select(
        "doc_id",
        words.alias("words"),
        sents.alias("sentences"),
        sylls.alias("syllables"),
    )
    flesch = F.when(
        F.col("words") > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6)
            * (F.col("syllables").cast("double") / F.col("words")),
            4,
        ),
    )
    return c.withColumn("flesch", flesch).orderBy("doc_id")


_BPE_MERGES = 8  # learned merge rules; each costs one O(vocab) job
_BPE_OUT = 40


def _bpe_apply_merge(col, a: str, b: str):
    """Left-to-right, non-overlapping application of one merge rule
    (a, b) -> ab over a symbol array, as a pure JVM fold: push each
    symbol, except when the accumulator ends in `a` and the incoming
    symbol is `b` — then replace the tail with the merged token. The
    fold naturally enforces BPE's non-overlap rule ('aaa' under (a,a)
    becomes [aa, a], because the merged 'aa' tail no longer equals
    'a')."""
    ab = a + b
    return F.aggregate(
        col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(ab)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_top_pair(vocab):
    """Most frequent adjacent symbol pair, corpus-weighted, with the
    full (count desc, a, b) total order so training is deterministic."""
    syms = F.col("syms")
    n_s = F.size(syms)
    pairs = vocab.filter(n_s >= 2).select(
        "freq",
        F.explode(
            F.arrays_zip(
                F.slice(syms, F.lit(1), n_s - 1).alias("a"),
                F.slice(syms, F.lit(2), n_s - 1).alias("b"),
            )
        ).alias("p"),
    )
    top = (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(1)
        .collect()
    )
    return (top[0]["a"], top[0]["b"]) if top else None


@register(
    "q_text_bpe_encode",
    family="text",
    oracle=None,  # iterative trainer: pinned vs a pure-Python reference
    doc="BPE tokenizer TRAINING + ENCODING end to end — the step "
    "q_text_bpe_pairs only scores candidates for: 8 merge rules are "
    "learned by the real iterative loop (count adjacent pairs over "
    "the corpus-weighted VOCAB, take the top pair with a total "
    "order, merge, repeat), then applied as 8 composed JVM array "
    "folds to segment every word. Output: the 40 most frequent "
    "words with their BPE segmentation and piece count. The scale "
    "story is the production-tokenizer shape: after one corpus pass "
    "collapses to (word, freq), every training iteration and the "
    "final encoding are O(DISTINCT words) — corpus size only "
    "affects the initial rollup. Driver traffic is 2 strings per "
    "iteration (the argmax pair). No oracle: the 8-iteration "
    "trainer is not SQL-expressible; tests/test_bpe_encode.py pins "
    "the learned merges AND segmentations against an independent "
    "pure-Python BPE implementation on the same word counts.",
)
def q_text_bpe_encode(spark, sf_dir):
    # spread(): the word explode otherwise runs on the parquet file's
    # single input split (see _util.spread)
    d = spread(t(spark, sf_dir, "documents"))
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split(F.col("w"), ""))
    )
    vocab = vocab.localCheckpoint()  # pin the rollup; iterations reuse it
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_MERGES):
        pair = _bpe_top_pair(vocab)
        if pair is None:
            break
        merges.append(pair)
        vocab = vocab.withColumn(
            "syms", _bpe_apply_merge(F.col("syms"), *pair)
        ).localCheckpoint()
    return (
        vocab.select(
            "w",
            F.col("freq").cast("long").alias("freq"),
            F.array_join("syms", " ").alias("segmentation"),
            F.size("syms").cast("long").alias("n_pieces"),
        )
        .orderBy(F.col("freq").desc(), "w")
        .limit(_BPE_OUT)
    )


_SSD_LEN = 40   # shingle length (chars)
_SSD_STRIDE = 10


@register(
    "q_text_substring_dup",
    family="text",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             md5(substr(text, CAST(u.p AS INTEGER), {_SSD_LEN})) AS h
      FROM documents,
           unnest(range(1, greatest(length(text) - {_SSD_LEN} + 1, 1) + 1,
                        {_SSD_STRIDE})) AS u(p)
    ),
    dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(*) FILTER (WHERE d.h IS NOT NULL) AS BIGINT)
               AS n_dup_shingles
      FROM sh s LEFT JOIN dup d ON s.h = d.h
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_dup_shingles,
           round(CAST(n_dup_shingles AS DOUBLE) / n_shingles, 6) AS dup_rate
    FROM per_doc WHERE n_dup_shingles > 0 ORDER BY doc_id
    """,
    doc="Cross-document repeated-substring scan — the scalable "
    "approximation of suffix-array substring dedup (the 'dedup "
    "training data at the 50-token level' result): 40-char shingles "
    "at stride 10 per document, a shingle is DUPLICATED when it "
    "appears in >= 2 distinct documents, and each document reports "
    "its duplicated-shingle share. Boilerplate, mirrored pages and "
    "licence blocks light up at rates exact paragraph dedup misses "
    "(they shift by a few chars). Every keyed shuffle carries 16-byte "
    "md5 values, never text; raw documents cross the wire once, in "
    "the round-robin spread() exchange before the shingle explode, "
    "which buys the explode its parallelism; per-doc shingle count "
    "is bounded by n_chars/stride, so the explode is "
    "linear with a 1/10 constant; the dup set rides a shingle-keyed "
    "aggregation (same shape as q_dedup_chunks) and joins back "
    "co-partitioned on the hash. Counts exact, one division per "
    "doc.",
)
def q_text_substring_dup(spark, sf_dir):
    # spread(): the per-position shingle explode otherwise runs on the
    # parquet file's single input split (see _util.spread)
    d = spread(t(spark, sf_dir, "documents"))
    positions = F.sequence(
        F.lit(1),
        F.greatest(F.length("text") - _SSD_LEN + 1, F.lit(1)),
        F.lit(_SSD_STRIDE),
    )
    sh = d.select(
        "doc_id", "text", F.explode(positions).alias("p")
    ).select(
        "doc_id",
        F.md5(F.col("text").substr(F.col("p"), F.lit(_SSD_LEN))).alias("h"),
    )
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        sh.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup_shingles"),
        )
    )
    return (
        per_doc.filter(F.col("n_dup_shingles") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(
                F.col("n_dup_shingles").cast("double") / F.col("n_shingles"), 6
            ).alias("dup_rate"),
        )
        .orderBy("doc_id")
    )


_SFD_LEN = 16     # stride-1 shingle length (chars)
_SFD_DF_CAP = 8   # shingles in more docs than this are boilerplate — skip
_SFD_MIN_SPAN = 32  # report pairs sharing a span at least this long


@register(
    "q_text_suffix_dup",
    family="text",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, CAST(u.p AS BIGINT) AS pos,
             md5(substr(text, CAST(u.p AS INTEGER), {_SFD_LEN})) AS h
      FROM documents,
           unnest(range(1, greatest(length(text) - {_SFD_LEN} + 1, 1) + 1))
             AS u(p)
    ),
    keep AS (
      SELECT h FROM sh GROUP BY h
      HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SFD_DF_CAP}
    ),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM sh a JOIN keep k ON a.h = k.h
                JOIN sh b ON b.h = a.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
      FROM hits
    ),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(count(*) + {_SFD_LEN} - 1 AS BIGINT) AS span_len
      FROM runs GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b,
           CAST(max(span_len) AS BIGINT) AS max_span,
           CAST(count(*) FILTER (WHERE span_len >= {_SFD_MIN_SPAN})
                AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_a, doc_b
    HAVING max(span_len) >= {_SFD_MIN_SPAN}
    ORDER BY doc_a, doc_b
    """,
    doc="Suffix-array-quality substring dedup (the r6-verdict upgrade of "
    "q_text_substring_dup): the EXACT length of the longest character "
    "span shared by each document pair, not just a sampled duplicated-"
    "shingle rate. Two docs share a span of length L iff they share "
    "L-k+1 CONSECUTIVE k-char shingles, so stride-1 16-char shingles + "
    "a diagonal-runs merge (positions with constant pa-pb, classic "
    "gaps-and-islands) recover every maximal shared span exactly — the "
    "same spans a suffix-array LCP scan reports, built from joins and "
    "windows instead of a monolithic sort. This is the '50-token-level "
    "dedup' primitive: licence blocks, mirrored paragraphs and "
    "boilerplate report their true span length. Scale: the stride-1 "
    "explode is 16x char volume (the honest cost of span exactness — "
    "substring_dup's stride-10 sampling stays the cheap screen); the "
    "shuffle key is the raw 16-char shingle + position (r11: grouping "
    "on the raw substring is result-identical to md5(substring) and "
    "skips one md5 per corpus char; the oracle keeps md5 — same "
    "equivalence classes). "
    "Shingles seen in more than 8 docs are dropped BEFORE the pair "
    "join (mirrored in the oracle), bounding fan-out per shingle at "
    "C(8,2) — the rare-shingle valve q_text_containment uses; the "
    "islands window partitions on (pair, diagonal), bounded by the "
    "matched positions, never the corpus.",
)
def q_text_suffix_dup(spark, sf_dir):
    # The shingle key is the RAW 16-char substring, not md5(substring):
    # the hash never reaches the output (doc pairs + span lengths only),
    # and md5-equality == string-equality, so grouping/joining on the raw
    # shingle is result-identical while skipping one md5 per character of
    # the corpus (the stride-1 explode makes that the dominant cost) and
    # shuffling 16-byte strings instead of 32-byte hex. The oracle keeps
    # md5 — same equivalence classes, different key encoding.
    # spread() first: the whole per-position expansion otherwise runs on
    # the single input split of the parquet file (see _util.spread).
    d = spread(t(spark, sf_dir, "documents"))
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - _SFD_LEN + 1, F.lit(1))
    )
    sh = d.select(
        "doc_id", "text", F.explode(positions).alias("pos")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("text").substr(F.col("pos"), F.lit(_SFD_LEN)).alias("h"),
    )
    keep = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _SFD_DF_CAP))
        .select("h")
    )
    a = sh.join(keep, "h").select(
        F.col("h"), F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    # Semi-filtering the b side by the SAME kept-shingle set does not
    # change the pair set (a join can only hit where a's keep filter
    # already passed) but keeps the full 15M-row shingle stream out of
    # the pair join's b-side shuffle.
    b = sh.join(keep, "h").select(
        F.col("h"), F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    hits = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = hits.select(
        "doc_a", "doc_b", "diag",
        (F.col("pa") - F.row_number().over(w)).alias("grp"),
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        (F.count(F.lit(1)) + _SFD_LEN - 1).cast("long").alias("span_len")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_len").cast("long").alias("max_span"),
            F.sum(
                F.when(F.col("span_len") >= _SFD_MIN_SPAN, 1).otherwise(0)
            ).cast("long").alias("n_spans"),
        )
        .filter(F.col("max_span") >= _SFD_MIN_SPAN)
        .orderBy("doc_a", "doc_b")
    )


_JSD_VOCAB = 200
_JSD_NEW_SOURCES = ("src0", "src1", "src2", "src3", "src4")


@register(
    "q_text_jsd_drift",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w,
             CASE WHEN source IN {_JSD_NEW_SOURCES!r} THEN 1 ELSE 0 END AS g
      FROM documents
    ),
    cnt AS (
      SELECT w,
             CAST(sum(1 - g) AS BIGINT) AS ref_c,
             CAST(sum(g) AS BIGINT) AS new_c,
             count(*) AS tot
      FROM tok WHERE w <> '' GROUP BY w
    ),
    vocab AS (
      SELECT w, ref_c + 1 AS a, new_c + 1 AS b
      FROM cnt ORDER BY tot DESC, w LIMIT {_JSD_VOCAB}
    ),
    tt AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                  CAST(sum(b) AS BIGINT) AS tb FROM vocab),
    terms AS (
      SELECT CAST(round(0.5 * (
               (v.a * 1.0 / t.ta)
                 * (ln(2.0 * v.a * t.tb) - ln(v.a * 1.0 * t.tb + v.b * 1.0 * t.ta))
               + (v.b * 1.0 / t.tb)
                 * (ln(2.0 * v.b * t.ta) - ln(v.a * 1.0 * t.tb + v.b * 1.0 * t.ta))
             ) * 1e9, 0) AS BIGINT) AS tq
      FROM vocab v CROSS JOIN tt t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(CAST(sum(tq) AS DOUBLE) / 1e9, 6) AS jsd
    FROM terms
    """,
    doc="Jensen-Shannon divergence between the unigram distribution of "
    f"a 'new crawl' slice (sources {', '.join(_JSD_NEW_SOURCES)}) and "
    "the reference corpus — THE symmetric, bounded [0, ln2] drift "
    "score for 'did this ingest batch change the language mix', run "
    "before new data is blended into a training corpus. Restricted to "
    f"the global top-{_JSD_VOCAB} vocabulary (TakeOrdered — constant-"
    "size), add-one smoothed so disjoint vocabularies stay finite. "
    "Determinism: every ln argument is an exact-integer product (the "
    "ratios p/m and q/m are cross-multiplied to ln(2·a·tb) − "
    "ln(a·tb + b·ta), all < 2^53 so the doubles are exact), each "
    "term is quantized to 1e-9 then BIGINT-summed — order-independent "
    "cross-engine. Scale: one token-count aggregation (map-side "
    "partials) is the only corpus-sized work; the JSD itself is "
    "arithmetic over 200 rows.",
)
def q_text_jsd_drift(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    g = F.when(F.col("source").isin(*_JSD_NEW_SOURCES), 1).otherwise(0)
    tok = d.select(F.explode(F.split("text", " ")).alias("w"), g.alias("g")).filter(
        F.col("w") != ""
    )
    cnt = tok.groupBy("w").agg(
        F.sum(1 - F.col("g")).cast("long").alias("ref_c"),
        F.sum("g").cast("long").alias("new_c"),
        F.count("*").alias("tot"),
    )
    vocab = (
        cnt.orderBy(F.col("tot").desc(), "w")
        .limit(_JSD_VOCAB)
        .select((F.col("ref_c") + 1).alias("a"), (F.col("new_c") + 1).alias("b"))
    )
    tt = vocab.agg(
        F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb")
    )
    a, b, ta, tb = F.col("a"), F.col("b"), F.col("ta"), F.col("tb")
    ln_m = F.log(a * 1.0 * tb + b * 1.0 * ta)
    term = 0.5 * (
        (a * 1.0 / ta) * (F.log(2.0 * a * tb) - ln_m)
        + (b * 1.0 / tb) * (F.log(2.0 * b * ta) - ln_m)
    )
    return (
        vocab.join(F.broadcast(tt))
        .select(F.round(term * 1e9, 0).cast("long").alias("tq"))
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.round(F.sum("tq").cast("double") / 1e9, 6).alias("jsd"),
        )
    )


@register(
    "q_text_source_hhi",
    family="text",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE w <> '' GROUP BY source
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt)
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           round(CAST(sum(CAST(round(
             (c.c * 1.0 / t.n) * (c.c * 1.0 / t.n) * 1e12, 0) AS BIGINT))
             AS DOUBLE) / 1e12, 6) AS hhi,
           round(1.0 / count(*), 6) AS hhi_uniform
    FROM cnt c CROSS JOIN tot t
    """,
    doc="Herfindahl-Hirschman concentration of the corpus token mass "
    "across sources — the diversity gate run before blending a "
    "training mix (HHI → 1 means one crawl dominates; the uniform "
    "floor 1/n_sources is emitted alongside for calibration). Token "
    "share per source is an exact-integer ratio; each squared share "
    "is quantized to 1e-12 then BIGINT-summed (order-independent "
    "cross-engine), one final division back. Scale: one "
    "token-count aggregation with map-side partials to |sources| "
    "rows; the statistic is constant-size.",
)
def q_text_source_hhi(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n"))
    share = F.col("c") * 1.0 / F.col("n")
    return (
        cnt.join(F.broadcast(tot))
        .select(F.round(share * share * 1e12, 0).cast("long").alias("sq"))
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.round(F.sum("sq").cast("double") / 1e12, 6).alias("hhi"),
            F.round(1.0 / F.count("*"), 6).alias("hhi_uniform"),
        )
    )


_KW_MIN_TF = 5
_KW_TOPK = 3


@register(
    "q_text_keywords",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf_s AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE w <> '' GROUP BY source, w
    ),
    tf AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM tf_s GROUP BY w),
    tot_s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
              FROM tf_s GROUP BY source),
    tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM tf),
    scored AS (
      SELECT s.source, s.w, s.c,
             round(s.c * 1.0 * t.n / (g.ns * 1.0 * f.cw), 6) AS lift
      FROM tf_s s
      JOIN tf f ON f.w = s.w
      JOIN tot_s g ON g.source = s.source
      CROSS JOIN tot t
      WHERE s.c >= {_KW_MIN_TF}
    )
    SELECT source, w AS keyword, c AS tf_source, lift, kw_rank
    FROM (
      SELECT source, w, c, lift,
             row_number() OVER (
               PARTITION BY source ORDER BY lift DESC, w
             ) AS kw_rank
      FROM scored
    )
    WHERE kw_rank <= {_KW_TOPK}
    ORDER BY source, kw_rank
    """,
    doc=f"Distinctive keywords per source: top-{_KW_TOPK} terms by "
    "frequency lift (share of term in the source vs share in the "
    "whole corpus) — the 'what is this crawl actually about' "
    "fingerprint used in data cards and mixture debugging; the same "
    "statistic as pointwise mutual information exp(PMI). Lift is a "
    "rational of four exact integers, cross-multiplied before the "
    "single rounded division (c·N / (ns·cw)); candidate terms are "
    f"pre-filtered to per-source tf >= {_KW_MIN_TF} so the ranking "
    "window's input is the distinctive-vocab slice, not the corpus. "
    "Scale: two token aggregations (source×term, term) with map-side "
    "partials; the per-source top-k window partitions by source over "
    "the filtered candidate set.",
)
def q_text_keywords(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tf_s = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tf = tf_s.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    tot_s = tf_s.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    tot = tf.agg(F.sum("cw").cast("long").alias("n"))
    scored = (
        tf_s.filter(F.col("c") >= _KW_MIN_TF)
        .join(tf, "w")
        .join(F.broadcast(tot_s), "source")
        .join(F.broadcast(tot))
        .select(
            "source",
            "w",
            "c",
            F.round(
                F.col("c") * 1.0 * F.col("n") / (F.col("ns") * 1.0 * F.col("cw")), 6
            ).alias("lift"),
        )
    )
    w_rank = Window.partitionBy("source").orderBy(F.col("lift").desc(), "w")
    return (
        scored.withColumn("kw_rank", F.row_number().over(w_rank))
        .filter(F.col("kw_rank") <= _KW_TOPK)
        .select(
            "source",
            F.col("w").alias("keyword"),
            F.col("c").alias("tf_source"),
            "lift",
            "kw_rank",
        )
        .orderBy("source", "kw_rank")
    )


_BURST_TOP = 20


@register(
    "q_text_burstiness",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    per_doc AS (
      SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE w <> '' GROUP BY w, doc_id
    ),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
           FROM documents),
    stats AS (
      SELECT p.w,
             CAST(sum(p.c) AS BIGINT) AS s1,
             CAST(sum(p.c * p.c) AS BIGINT) AS s2,
             t.n
      FROM per_doc p CROSS JOIN nd t
      GROUP BY p.w, t.n
    )
    SELECT w AS word, s1 AS total_count,
           round((s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                 / (s1 * 1.0 / n), 6) AS burstiness
    FROM stats
    ORDER BY s1 DESC, w
    LIMIT {_BURST_TOP}
    """,
    doc="Word burstiness (variance-to-mean ratio of per-document "
    f"counts) for the top-{_BURST_TOP} words: VMR ≈ 1 is Poisson "
    "(function words sprinkle evenly); VMR >> 1 marks bursty content "
    "words that clump in few documents — the corpus-linguistics "
    "diagnostic behind stopword lists, topical-term mining, and "
    "spotting template spam (pathologically bursty boilerplate). "
    "Zero-count docs are handled by dividing by the TOTAL document "
    "count n (Σc and Σc² over occurring docs are unchanged by zero "
    "terms), so no dense word×doc matrix is ever built. All moments "
    "are exact BIGINT sums; the VMR is one identical float "
    "expression. Scale: one (word, doc) rollup with map-side "
    "partials, then a word-keyed rollup; top-k is "
    "TakeOrderedAndProject.",
)
def q_text_burstiness(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per_doc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    nd = d.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    stats = (
        per_doc.join(F.broadcast(nd))
        .groupBy("w", "n")
        .agg(
            F.sum("c").cast("long").alias("s1"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    vmr = (F.col("s2") * 1.0 / F.col("n") - mean * mean) / mean
    return (
        stats.select(
            F.col("w").alias("word"),
            F.col("s1").alias("total_count"),
            F.round(vmr, 6).alias("burstiness"),
        )
        .orderBy(F.col("total_count").desc(), "word")
        .limit(_BURST_TOP)
    )


_HEAPS_DECILES = 10


@register(
    "q_text_heaps_law",
    family="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    first_seen AS (
      SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM tok WHERE w <> '' GROUP BY w
    ),
    ids AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             row_number() OVER (ORDER BY doc_id) AS rn,
             count(*) OVER () AS nd
      FROM documents
    ),
    edges AS (
      SELECT CAST(ceil(rn * {_HEAPS_DECILES}.0 / nd) AS BIGINT) AS decile,
             doc_id
      FROM ids
    ),
    bounds AS (
      SELECT decile, max(doc_id) AS hi FROM edges GROUP BY decile
    ),
    tokens_cum AS (
      SELECT b.decile,
             CAST((SELECT count(*) FROM tok t
                   JOIN documents d2 ON d2.doc_id = t.doc_id
                   WHERE t.w <> '' AND d2.doc_id <= b.hi) AS BIGINT)
               AS n_tokens,
             CAST((SELECT count(*) FROM first_seen f
                   WHERE f.first_doc <= b.hi) AS BIGINT) AS vocab
      FROM bounds b
    )
    SELECT decile, n_tokens, vocab,
           round(ln(vocab) / ln(n_tokens), 6) AS heaps_beta_point
    FROM tokens_cum
    ORDER BY decile
    """,
    doc="Heaps'-law vocabulary growth curve: cumulative distinct vocab "
    f"vs cumulative tokens at {_HEAPS_DECILES} corpus deciles, plus "
    "the pointwise β = ln V / ln N (natural text sits β ≈ 0.5; "
    "β → 1 means unbounded novel tokens = OCR noise or ids leaking "
    "into text; β → 0 means template saturation) — the vocab-growth "
    "gate run before committing a tokenizer budget. The single-pass "
    "trick: cumulative distinct needs NO per-decile rescan — each "
    "word contributes at its FIRST document (min doc_id per word), "
    "so a first-occurrence histogram + running sum gives every "
    "decile's vocab in one aggregation. β from ln of exact integers. "
    "Scale: one (word → min doc) rollup and one token-count rollup, "
    "both map-side-combinable; decile boundaries come from the shared "
    "two-pass global-rank core (sorts_sets.global_rank — "
    "range-repartition + broadcast prefix offsets), never a "
    "single-partition window; the decile table is 10 rows.",
)
def q_text_heaps_law(spark, sf_dir):
    from .sorts_sets import global_rank

    d = t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    nd = d.count()  # O(1) driver scalar: decile boundaries need the doc count
    if nd == 0:
        return spark.createDataFrame(
            [], "decile long, n_tokens long, vocab long, heaps_beta_point double"
        )
    # decile boundaries need every document's exact global rank by doc_id —
    # computed with the shared two-pass core (range-repartition, per-partition
    # counts, broadcast prefix offsets, partition-local row_number), NOT a
    # row_number over an unpartitioned window, which would funnel the whole
    # corpus through one task.
    ids = global_rank(
        d.select(F.col("doc_id").cast("long").alias("doc_id")), F.col("doc_id")
    ).withColumnRenamed("rank", "rn")
    bounds = (
        ids.select(
            F.ceil(F.col("rn") * _HEAPS_DECILES / nd).cast("long").alias("decile"),
            "doc_id",
        )
        .groupBy("decile")
        .agg(F.max("doc_id").alias("hi"))
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").cast("long").alias("first_doc"))
    toks_per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("c"))
    n_tokens = (
        bounds.join(toks_per_doc, toks_per_doc.doc_id <= F.col("hi"))
        .groupBy("decile", "hi")
        .agg(F.sum("c").cast("long").alias("n_tokens"))
    )
    vocab = (
        bounds.join(first_seen, first_seen.first_doc <= bounds.hi)
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    return (
        n_tokens.join(vocab, "decile")
        .select(
            "decile",
            "n_tokens",
            "vocab",
            F.round(F.log("vocab") / F.log("n_tokens"), 6).alias(
                "heaps_beta_point"
            ),
        )
        .orderBy("decile")
    )


_WIN_K = 8  # winnowing char-gram length
_WIN_W = 8  # winnowing window (grams per window)
_WIN_POS_MOD = 1 << 20  # position slot: docs are capped at 1M chars


@register(
    "q_text_winnowing",
    family="text",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(length(text) - {_WIN_K} + 1, 0) + 1),
               i -> ('0x' || substr(md5(substr(text, CAST(i AS INTEGER),
                    {_WIN_K})), 1, 10))::BIGINT * {_WIN_POS_MOD} + i
             ) AS grams
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(grams) - {_WIN_W} + 1, 0) + 1),
               j -> list_min(grams[j:j+{_WIN_W - 1}])
             ) AS wins
      FROM g
    )
    SELECT doc_id,
           CAST(len(wins) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_fingerprints,
           round(CAST(len(list_distinct(wins)) AS DOUBLE)
                 / nullif(len(wins), 0), 6) AS density
    FROM w ORDER BY doc_id
    """,
    doc="TRUE winnowing fingerprints (Schleimer/Wilkerson/Aiken, the "
    "MOSS algorithm) — the positional upgrade of q_text_fingerprint's "
    "min-4 sketch: hash every 8-char gram, slide an 8-gram window, "
    "select each window's minimum (hash, position) — the guarantee "
    "is that any shared substring of length >= k+w-1 = 15 chars "
    "yields at least one shared fingerprint, which a global-min "
    "sketch cannot promise. Selected (hash,pos) pairs are packed "
    "into ONE BIGINT — 40-bit md5-hex-prefix * 2^20 + position "
    "(docs capped at 1M chars) — so each window selection is a "
    "long min, not a 39-char string compare (the packed ordering "
    "equals (hex-prefix, pos) lexicographic in both engines; the "
    "string encoding measured 10x slower at the 100x tier). The "
    "sketch is exact-hash-checked and the ~2/(w+1) expected density "
    "shows in the output. Scale: ENTIRELY row-local JVM array "
    "expressions — "
    "gram hashing, window minima, distinct count all happen inside "
    "one projection, zero shuffle, zero Python; the fingerprint SET "
    "(explode of wins) is what a cross-doc matcher would join on, at "
    "1/4 the gram volume. Ref: no reference counterpart — LLM "
    "dedup/fingerprint tier.",
)
def q_text_winnowing(spark, sf_dir):
    # spread(): the entire gram-hash + window-min compute is one
    # projection; without a repartition it runs on the parquet file's
    # single input split, serializing ~1 md5/char of the corpus onto one
    # core (see _util.spread). The md5 itself must stay — its VALUE picks
    # each window's minimum and is part of the declared fingerprints.
    d = spread(t(spark, sf_dir, "documents"))
    n_grams = F.length("text") - _WIN_K + 1
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.conv(
                F.substring(F.md5(F.col("text").substr(i, F.lit(_WIN_K))), 1, 10),
                16,
                10,
            ).cast("long")
            * _WIN_POS_MOD
            + i.cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    g = d.select("doc_id", grams.alias("grams"))
    n_wins = F.size("grams") - _WIN_W + 1
    wins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
            lambda j: F.array_min(F.slice("grams", j, _WIN_W)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    w = g.select("doc_id", wins.alias("wins"))
    return w.select(
        "doc_id",
        F.size("wins").cast("long").alias("n_windows"),
        F.size(F.array_distinct("wins")).cast("long").alias("n_fingerprints"),
        F.round(
            F.size(F.array_distinct("wins")).cast("double")
            / F.nullif(F.size("wins").cast("long"), F.lit(0).cast("long")),
            6,
        ).alias("density"),
    ).orderBy("doc_id")


@register(
    "q_text_entropy",
    family="text",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(list_transform(
               range(1, length(text) + 1),
               i -> substr(text, CAST(i AS INTEGER), 1))) AS c
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
      FROM ch GROUP BY doc_id, c
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CAST(round(n * ln(n) * 1e9) AS BIGINT)) AS BIGINT) AS q
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, total AS n_chars_total, n_distinct,
           round(ln(total) - (CAST(q AS DOUBLE) / 1e9) / total, 6)
             AS entropy_nats
    FROM agg ORDER BY doc_id
    """,
    doc="Per-document character-level Shannon entropy — the cheapest "
    "gibberish/encoding-garbage detector in a pre-training quality "
    "stack (low entropy = repeated filler, high = binary-in-text / "
    "wrong charset). Computed in the identity-quantized form "
    "H = ln(N) - (1/N)*SUM(c*ln(c)): every ln argument is an EXACT "
    "integer count (ln agrees bitwise across engines on exact-integer "
    "inputs), each term is quantized to a 1e-9 long before summing so "
    "the sum is order-independent, and the final expression is "
    "identical float arithmetic on identical integers — the same "
    "discipline as q_ml_logreg's sufficient statistics. Chars come "
    "from position-indexed substr (never engine-specific ''-split "
    "semantics). Scale: the histogram is ROW-LOCAL (r11: sorted char "
    "array + run lengths inside each row — zero aggregates, zero "
    "per-char shuffle; assumes the 1M-char doc cap so one row's array "
    "fits a task comfortably), so entropy of a 100 TB corpus is a "
    "map-only pass, no window, no Python. Ref: no reference "
    "counterpart — LLM quality-signal tier.",
)
def q_text_entropy(spark, sf_dir):
    # Row-local char histogram: the per-doc counts used to be built by
    # exploding EVERY character (one shuffled row per char of the corpus)
    # into groupBy(doc_id, c). The histogram is per-doc state, so it
    # never needed a shuffle: sort the char array, take run lengths of
    # equal neighbours — identical (char, n) multiset per doc, zero
    # exchanges (plan: 2 Exchange -> map-only + sort). Same integer
    # quantization (round(n*ln(n)*1e9) summed as long), so results are
    # bit-identical. spread() parallelizes the per-doc sort+scan.
    d = spread(t(spark, sf_dir, "documents"))
    chars = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1))),
        lambda i: F.col("text").substr(i, F.lit(1)),
    )
    # Each array stage materializes as its OWN projection column: array
    # expressions referenced inside a HOF lambda are re-evaluated per
    # element (no CSE across higher-order functions), so inlining these
    # would turn the linear scan quadratic per doc.
    # sort_array materializes one single-char element per character of
    # the doc inside a single task — bounded by the generator's 1M-char
    # doc cap (~tens of MB per max-length row). If that cap is ever
    # raised, docs past a length threshold should fall back to the old
    # explode + two-level hash-agg path instead of the row-local sort.
    g1 = d.filter(F.length("text") >= 1).select(
        "doc_id",
        F.length("text").cast("long").alias("total"),
        F.sort_array(chars).alias("srt"),
    )
    # 1-based start positions of each run of equal chars; F.get is
    # 0-based and null-safe, so i=1 short-circuits via TRUE OR NULL.
    g2 = g1.select(
        "doc_id",
        "total",
        F.filter(
            F.sequence(F.lit(1), F.size("srt")),
            lambda i: (i == 1)
            | (F.element_at(F.col("srt"), i) != F.get(F.col("srt"), i - 2)),
        ).alias("starts"),
    )
    # run length j = next start (or total+1 past the end) - start j
    run_j = lambda j: (  # noqa: E731
        F.coalesce(F.get(F.col("starts"), j), (F.col("total") + 1).cast("int"))
        - F.element_at(F.col("starts"), j)
    ).cast("long")
    agg = g2.select(
        "doc_id",
        "total",
        F.size("starts").cast("long").alias("n_distinct"),
        F.aggregate(
            F.sequence(F.lit(1), F.size("starts")),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.round(run_j(j) * F.log(run_j(j)) * 1e9).cast("long"),
        ).alias("q"),
    )
    return agg.select(
        "doc_id",
        F.col("total").alias("n_chars_total"),
        "n_distinct",
        F.round(
            F.log(F.col("total"))
            - (F.col("q").cast("double") / 1e9) / F.col("total"),
            6,
        ).alias("entropy_nats"),
    ).orderBy("doc_id")


@register(
    "q_text_novelty",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 2, 0) + 1),
                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
        FROM toks
      )
    ),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
    agg AS (
      SELECT sh.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
      FROM sh JOIN firsts f ON f.s = sh.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
    FROM agg ORDER BY doc_id
    """,
    doc="N-gram novelty score per document: the fraction of a doc's "
    "distinct word-3-gram shingles whose FIRST occurrence (minimum "
    "doc_id — in production, earliest ingest time) is this document — "
    "the cheap informativeness/near-dup-pressure signal curriculum "
    "builders use to order or downsample a corpus (a doc with novelty "
    "~0 is assembled from text the corpus already has; exact dups "
    "score 0 except the original). Counts are exact integers; the "
    "score is one rounded division. Scale: the shuffle key is the raw "
    "word-3-gram shingle string (r11: the md5 indirection was dropped "
    "— the oracle itself joins raw strings, and skipping the hash "
    "saves one md5 per shingle; typical 3-grams are ~20 bytes, close "
    "to the 16-byte hash it replaced); first-seen is one "
    "map-side-combinable min; the membership join is co-partitioned "
    "on the same key. Ref: no reference counterpart — LLM curriculum "
    "tier.",
)
def q_text_novelty(spark, sf_dir):
    # spread(): the shingle transform + explode otherwise run on the
    # parquet file's single input split (see _util.spread).
    d = spread(t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n_sh = F.greatest(F.size(toks) - 2, F.lit(0))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
    )
    # Key on the RAW shingle string, exactly like the oracle (which joins
    # raw strings): the hash value never reaches the output, so md5 here
    # was pure compute + wider shuffle rows (32-byte hex vs ~20-byte
    # shingle). String equality == md5 equality => identical counts.
    sh = (
        d.filter(F.size(toks) >= 3)
        .select("doc_id", F.explode(shingles).alias("h"))
        .localCheckpoint(eager=False)  # firsts + membership join read this
    )
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    agg = (
        sh.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
            "novelty"
        ),
    ).orderBy("doc_id")


_MATTR_W = 50


@register(
    "q_text_mattr",
    family="text",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS n_tokens,
             CASE WHEN len(l) >= {_MATTR_W} THEN
               CAST(list_sum(list_transform(
                 range(1, len(l) - {_MATTR_W} + 2),
                 j -> len(list_distinct(l[j : j + {_MATTR_W} - 1]))))
                 AS BIGINT)
             ELSE CAST(len(list_distinct(l)) AS BIGINT) END AS s_distinct,
             CASE WHEN len(l) >= {_MATTR_W}
                  THEN CAST({_MATTR_W} * (len(l) - {_MATTR_W} + 1) AS BIGINT)
                  ELSE CAST(len(l) AS BIGINT) END AS denom
      FROM toks WHERE len(l) >= 1
    )
    SELECT doc_id, n_tokens,
           round(CAST(s_distinct AS DOUBLE) / denom, 6) AS mattr
    FROM m ORDER BY doc_id
    """,
    doc="Moving-Average Type-Token Ratio (MATTR, window "
    f"{_MATTR_W}) per document: mean distinct-token share over every "
    "sliding window — the length-invariant lexical-diversity measure "
    "(plain TTR collapses as docs grow, so corpus quality filters use "
    "MATTR; complements q_text_entropy's char-level signal). Docs "
    "shorter than the window fall back to plain TTR. Exactness: the "
    "mean of per-window ratios with a CONSTANT denominator is "
    "sum(distinct counts) / (w * n_windows) — an integer sum over one "
    "integer product — so both engines compute ONE division, no float "
    "accumulation at all. Scale: entirely row-local JVM array "
    "expressions (slice + array_distinct per window), zero shuffle "
    "beyond the presentation sort, zero Python; cost is O(tokens * w) "
    "per doc, embarrassingly parallel. Ref: no reference counterpart "
    "— LLM quality-signal tier.",
)
def q_text_mattr(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    x = d.filter(F.size(toks) >= 1).select(
        "doc_id", toks.alias("l"), F.size(toks).cast("long").alias("n_tokens")
    )
    n_wins = F.col("n_tokens") - _MATTR_W + 1
    win_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1)).cast("int")),
            lambda j: F.size(F.array_distinct(F.slice("l", j, _MATTR_W))).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    s_distinct = F.when(F.col("n_tokens") >= _MATTR_W, win_sum).otherwise(
        F.size(F.array_distinct("l")).cast("long")
    )
    denom = F.when(
        F.col("n_tokens") >= _MATTR_W,
        (F.lit(_MATTR_W) * n_wins).cast("long"),
    ).otherwise(F.col("n_tokens"))
    return x.select(
        "doc_id",
        "n_tokens",
        F.round(s_distinct.cast("double") / denom, 6).alias("mattr"),
    ).orderBy("doc_id")


@register(
    "q_text_fertility",
    family="text",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT)
               AS sub
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS words,
           CAST(sum(sub) AS BIGINT) AS subword_tokens,
           round(CAST(sum(sub) AS DOUBLE) / sum(ws), 6) + 0.0
             AS fertility,
           CAST(count(*) FILTER (sub * 10 > ws * 18) AS BIGINT)
             AS n_high_fertility
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    doc="Tokenizer fertility per language — subword tokens per "
    "whitespace word (the metric that quantifies how much more "
    "compute a language costs under a given tokenizer: English ~1.2, "
    "under-resourced scripts 3-8 on real BPE vocabularies) using the "
    "same subword regex as q_text_token_count, plus a count of docs "
    "above fertility 1.8 (the re-tokenize-or-upweight candidates). "
    "The per-language fertility table is what mixture budgeting "
    "(q_mix_token_budget) should consume instead of raw doc counts. "
    "Exactness: token counts exact ints; fertility one division; "
    "the high-fertility flag is an exact integer cross-multiplication "
    "(sub·10 > ws·18). Scale: pure map + one combinable per-lang "
    "agg. Ref: no reference counterpart — text tier.",
)
def q_text_fertility(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("long").alias("sub"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("words"),
            F.sum("sub").cast("long").alias("subword_tokens"),
            (
                F.round(F.sum("sub").cast("double") / F.sum("ws"), 6) + 0.0
            ).alias("fertility"),
            F.sum(
                F.when(F.col("sub") * 10 > F.col("ws") * 18, 1).otherwise(0)
            ).cast("long").alias("n_high_fertility"),
        )
        .orderBy("lang")
    )



@register(
    "q_text_self_bleu",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i + 1] AS g
      FROM toks CROSS JOIN unnest(range(1, len(ws))) AS r(i)
    ),
    df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM bg GROUP BY g),
    per AS (
      SELECT bg.doc_id,
             CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS matched
      FROM bg JOIN df ON df.g = bg.g
      GROUP BY bg.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(matched) AS DOUBLE) / sum(total), 6) + 0.0
             AS micro_self_bleu2,
           round(CAST(sum(CAST(round(1e9 * matched / total) AS BIGINT))
                      AS DOUBLE) / count(*) / 1e9, 6) + 0.0
             AS macro_self_bleu2,
           round(CAST(sum(CASE WHEN matched * 10 >= total * 9
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) + 0.0 AS pct_templated
    FROM per
    """,
    doc="Self-BLEU-2 corpus diversity: for every document, the share "
    "of its distinct bigrams that also occur in at least one OTHER "
    "document (df >= 2) — high self-BLEU marks a templated, "
    "mode-collapsed corpus; the diversity gate run on generated or "
    "scraped training data BEFORE it is mixed in (Zhu et al.'s "
    "texygen metric, re-expressed as an exact df computation instead "
    "of sampled pairwise BLEU). Emits micro (corpus-ratio of exact "
    "ints), macro (per-doc ratios quantized 1e-9 before the mean — "
    "doc order cannot perturb it), and the share of docs >= 0.9 "
    "matched (an exact integer cross-multiplication, no float "
    "threshold). Scale: one explode + a distinct-bigram projection "
    "keyed on the bigram (the only corpus-wide shuffles); df "
    "join-back is co-keyed; nothing is pairwise. Ref: no reference "
    "counterpart — LLM-pipeline text tier.",
)
def q_text_self_bleu(spark, sf_dir):
    # spread(): the split + bigram zip otherwise run on the parquet
    # file's single input split (see _util.spread)
    d = spread(t(spark, sf_dir, "documents"))
    # bind the token array BEFORE any indexing lambda: an embedded
    # split() re-evaluates once per array element inside transform —
    # O(words^2) per doc, the measured Catalyst trap from the minhash
    # pipeline (SCALE.md); the probe caught the embedded version at
    # 253s/100x. After the checkpoint ws is a bound attribute.
    toks = d.select("doc_id", F.split("text", " ").alias("ws"))
    toks = toks.localCheckpoint(eager=False)
    bg = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1), "
                    "slice(ws, 2, size(ws) - 1), "
                    "(a, b) -> concat(a, ' ', b))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    bg = bg.localCheckpoint(eager=False)  # df + per-doc pass read it
    df = bg.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    per = (
        bg.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("matched"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.round(F.sum("matched").cast("double") / F.sum("total"), 6) + 0.0
        ).alias("micro_self_bleu2"),
        (
            F.round(
                F.sum(
                    F.round(1e9 * F.col("matched") / F.col("total")).cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                / 1e9,
                6,
            )
            + 0.0
        ).alias("macro_self_bleu2"),
        (
            F.round(
                F.sum(
                    F.when(
                        F.col("matched") * 10 >= F.col("total") * 9, 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            + 0.0
        ).alias("pct_templated"),
    )


_NGC_TRAIN_PCT = 80  # md5 doc split: train vs held-out eval


@register(
    "q_text_ngram_coverage",
    family="text",
    oracle=f"""
    WITH split_ AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 100 < {_NGC_TRAIN_PCT} AS is_train
      FROM documents
    ),
    bg AS (
      SELECT doc_id, is_train, ws[i] || ' ' || ws[i + 1] AS g
      FROM split_ CROSS JOIN unnest(range(1, len(ws))) AS r(i)
    ),
    train_g AS (SELECT DISTINCT g FROM bg WHERE is_train),
    eval_g AS (
      SELECT g, CAST(count(*) AS BIGINT) AS tf
      FROM bg WHERE NOT is_train GROUP BY g
    ),
    cov AS (
      SELECT e.g, e.tf, t.g IS NOT NULL AS covered
      FROM eval_g e LEFT JOIN train_g t ON t.g = e.g
    ),
    docs AS (
      SELECT CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS BIGINT)
               AS n_eval
      FROM split_
    )
    SELECT d.n_train AS n_train_docs, d.n_eval AS n_eval_docs,
           round(CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) + 0.0 AS distinct_coverage,
           round(CAST(sum(CASE WHEN covered THEN tf ELSE 0 END) AS DOUBLE)
                 / sum(tf), 6) + 0.0 AS weighted_coverage
    FROM cov CROSS JOIN docs d
    GROUP BY d.n_train, d.n_eval
    """,
    doc="Held-out n-gram coverage: split the corpus by a deterministic "
    f"md5 doc hash ({_NGC_TRAIN_PCT}/20), then measure what share of "
    "the eval half's distinct bigrams — and of its bigram "
    "OCCURRENCES — the train half covers; low coverage means the "
    "corpus is too small or too fragmented for the target "
    "distribution (the OOV/data-sufficiency gate a tokenizer or LM "
    "training run checks before burning compute, and the same "
    "overlap machinery q_text_decontaminate uses in reverse). "
    "Exactness: the split is an integer hash comparison; coverage "
    "ratios are exact-integer divisions. Scale: one explode over a "
    "BOUND token array (the self_bleu lesson), two bigram-keyed "
    "combinable aggs, one co-keyed left join — nothing pairwise. "
    "Ref: no reference counterpart — LLM-pipeline text tier.",
)
def q_text_ngram_coverage(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    is_train = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
        < _NGC_TRAIN_PCT
    )
    toks = d.select(
        "doc_id", F.split("text", " ").alias("ws"), is_train.alias("is_train")
    )
    toks = toks.localCheckpoint(eager=False)  # bind ws; docs + bigram passes
    bg = toks.select(
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(ws, 1, size(ws) - 1), "
                "slice(ws, 2, size(ws) - 1), (a, b) -> concat(a, ' ', b))"
            )
        ).alias("g"),
    )
    bg = bg.localCheckpoint(eager=False)  # train + eval branches read it
    train_g = bg.filter(F.col("is_train")).select("g").distinct()
    eval_g = (
        bg.filter(~F.col("is_train"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cov = eval_g.join(
        train_g.withColumn("covered", F.lit(True)), "g", "left"
    ).select("tf", F.coalesce("covered", F.lit(False)).alias("covered"))
    docs = toks.agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0))
        .cast("long").alias("n_train"),
        F.sum(F.when(F.col("is_train"), 0).otherwise(1))
        .cast("long").alias("n_eval"),
    )
    return cov.crossJoin(F.broadcast(docs)).groupBy("n_train", "n_eval").agg(
        (
            F.round(
                F.sum(F.when(F.col("covered"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            + 0.0
        ).alias("distinct_coverage"),
        (
            F.round(
                F.sum(F.when(F.col("covered"), F.col("tf")).otherwise(0))
                .cast("double")
                / F.sum("tf"),
                6,
            )
            + 0.0
        ).alias("weighted_coverage"),
    ).select(
        F.col("n_train").alias("n_train_docs"),
        F.col("n_eval").alias("n_eval_docs"),
        "distinct_coverage",
        "weighted_coverage",
    )


# ---------------------------------------------------------------------------
# Round-10 wave 5 (text/corpus): lexical-richness profile + cross-source
# vocabulary overlap.
# ---------------------------------------------------------------------------


@register(
    "q_text_lexical_richness",
    family="text",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS m
      FROM toks WHERE tok <> '' GROUP BY source, tok
    ),
    spec AS (
      SELECT source,
             CAST(sum(m) AS BIGINT)                      AS n_tokens,
             CAST(count(*) AS BIGINT)                    AS vocab,
             CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(sum(m * m) AS BIGINT)                  AS sm2
      FROM tf GROUP BY source
    )
    SELECT source, n_tokens, vocab,
           round(CAST(v1 AS DOUBLE) / vocab, 6) + 0.0 AS hapax_ratio,
           round(1e4 * (CAST(sm2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) + 0.0 AS yule_k,
           round(vocab / sqrt(CAST(n_tokens AS DOUBLE)), 6) + 0.0
             AS guiraud_r,
           round(CAST(v2 AS DOUBLE) / vocab, 6) + 0.0 AS sichel_s
    FROM spec ORDER BY source
    """,
    doc="Lexical-richness profile per source: token count N, vocabulary "
    "V, hapax ratio V1/V, Yule's K = 1e4(sum m^2 V_m - N)/N^2 "
    "(repeat-rate characteristic — LENGTH-INVARIANT where raw TTR is "
    "not), Guiraud's R = V/sqrt(N), Sichel's S = V2/V — the "
    "vocabulary-diversity panel a data-mixture pipeline reads per "
    "source before weighting (q_text_heaps_law fits growth ACROSS "
    "scales; this profiles richness AT the current scale; "
    "q_agg_diversity_hill profiles sources by VOLUME, this by "
    "vocabulary). Everything reduces to exact integer sums over the "
    "frequency spectrum (m, V_m) then one float expression per "
    "metric. Scale: one token explode into a combinable "
    "(source, token) rollup — the tfidf shuffle shape; the spectrum "
    "rollup is map-side combinable. Ref: no reference counterpart — "
    "text tier.",
)
def q_text_lexical_richness(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    spec = tf.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).cast("long").alias("v1"),
        F.sum(F.when(F.col("m") == 2, 1).otherwise(0)).cast("long").alias("v2"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("sm2"),
    )
    nd = F.col("n_tokens").cast("double")
    return spec.select(
        "source",
        "n_tokens",
        "vocab",
        (F.round(F.col("v1").cast("double") / F.col("vocab"), 6) + 0.0).alias(
            "hapax_ratio"
        ),
        (
            F.round(1e4 * (F.col("sm2").cast("double") - F.col("n_tokens")) / (nd * F.col("n_tokens")), 6)
            + 0.0
        ).alias("yule_k"),
        (F.round(F.col("vocab") / F.sqrt(nd), 6) + 0.0).alias("guiraud_r"),
        (F.round(F.col("v2").cast("double") / F.col("vocab"), 6) + 0.0).alias(
            "sichel_s"
        ),
    ).orderBy("source")


_VOCAB_OVERLAP_TOPK = 30


@register(
    "q_text_source_vocab_overlap",
    family="text",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    vs AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.shared,
           va.v AS vocab_a, vb.v AS vocab_b,
           round(CAST(i.shared AS DOUBLE) / (va.v + vb.v - i.shared), 6)
             + 0.0 AS jaccard
    FROM inter i JOIN vs va ON va.source = i.src_a
                 JOIN vs vb ON vb.source = i.src_b
    ORDER BY jaccard DESC, src_a, src_b
    LIMIT {_VOCAB_OVERLAP_TOPK}
    """,
    doc="Cross-source vocabulary overlap: Jaccard of the distinct-token "
    "sets for every source pair, top-30 most-overlapping — the "
    "mixture-redundancy audit (two sources with near-identical "
    "vocabularies add volume, not diversity; q_text_jsd_drift "
    "compares DISTRIBUTIONS of one pair, this screens ALL pairs on "
    "set overlap). The pair join is keyed on the TOKEN (an inverted-"
    "index shape — never source x source x vocab), counts are exact "
    "BIGINTs, jaccard one division, top-k under a (jaccard DESC, "
    "src_a, src_b) total order. Scale: tokens shuffle once for the "
    "distinct; the token-keyed join fans out k(k-1)/2 per UNIVERSAL "
    "token at worst (k = #sources, small by definition); per-source "
    "vocab sizes broadcast. Ref: no reference counterpart — text "
    "tier.",
)
def q_text_source_vocab_overlap(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    st = st.localCheckpoint(eager=False)  # vs + both join sides read it
    vs = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    va = vs.select(F.col("source").alias("src_a"), F.col("v").alias("vocab_a"))
    vb = vs.select(F.col("source").alias("src_b"), F.col("v").alias("vocab_b"))
    jac = F.col("shared").cast("double") / (
        F.col("vocab_a") + F.col("vocab_b") - F.col("shared")
    )
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            "vocab_a",
            "vocab_b",
            (F.round(jac, 6) + 0.0).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "src_a", "src_b")
        .limit(_VOCAB_OVERLAP_TOPK)
    )


@register(
    "q_text_length_profile",
    family="text",
    oracle="""
    WITH cells AS (
      SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, n_chars
    ),
    cum AS (
      SELECT source, n_chars,
             sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) AS cm,
             sum(cnt) OVER (PARTITION BY source) AS n
      FROM cells
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(n_chars) AS BIGINT) AS min_chars,
             CAST(max(n_chars) AS BIGINT) AS max_chars,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    ),
    q AS (
      SELECT source,
             min(CASE WHEN 4 * cm >= n THEN n_chars END) AS p25,
             min(CASE WHEN 2 * cm >= n THEN n_chars END) AS p50,
             min(CASE WHEN 4 * cm >= 3 * n THEN n_chars END) AS p75,
             min(CASE WHEN 10 * cm >= 9 * n THEN n_chars END) AS p90
      FROM cum GROUP BY source
    )
    SELECT s.source, s.n_docs, s.min_chars,
           CAST(q.p25 AS BIGINT) AS p25_chars,
           CAST(q.p50 AS BIGINT) AS p50_chars,
           CAST(q.p75 AS BIGINT) AS p75_chars,
           CAST(q.p90 AS BIGINT) AS p90_chars,
           s.max_chars,
           round(CAST(s.total_chars AS DOUBLE) / s.n_docs, 6) + 0.0
             AS mean_chars
    FROM s JOIN q ON q.source = s.source
    ORDER BY s.source
    """,
    doc="Document-length profile per source: min / p25 / median / p75 "
    "/ p90 / max / mean of n_chars — the sizing panel a packing and "
    "chunking pipeline reads per source before setting sequence "
    "lengths (q_pack_tokens packs against a budget; this says what "
    "the budget should be, and a p90/median ratio >> 1 flags a "
    "long-tail source that needs chunking first). Quantiles are "
    "type-1 integer rules (min value with k*cum >= j*n — no float "
    "quantile ever exists, the q_agg_qq_table machinery); mean is "
    "one exact division. Scale: one (source, n_chars) cell rollup; "
    "domain cumsums per source; constant tail. Ref: no reference "
    "counterpart — text tier.",
)
def q_text_length_profile(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "source",
        "n_chars",
        F.sum("cnt").over(w).alias("cm"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    q = cum.groupBy("source").agg(
        F.min(F.when(4 * F.col("cm") >= F.col("n"), F.col("n_chars"))).alias("p25"),
        F.min(F.when(2 * F.col("cm") >= F.col("n"), F.col("n_chars"))).alias("p50"),
        F.min(F.when(4 * F.col("cm") >= 3 * F.col("n"), F.col("n_chars"))).alias(
            "p75"
        ),
        F.min(F.when(10 * F.col("cm") >= 9 * F.col("n"), F.col("n_chars"))).alias(
            "p90"
        ),
    )
    return (
        s.join(q, "source")
        .select(
            "source",
            "n_docs",
            "min_chars",
            F.col("p25").cast("long").alias("p25_chars"),
            F.col("p50").cast("long").alias("p50_chars"),
            F.col("p75").cast("long").alias("p75_chars"),
            F.col("p90").cast("long").alias("p90_chars"),
            "max_chars",
            (
                F.round(F.col("total_chars").cast("double") / F.col("n_docs"), 6)
                + 0.0
            ).alias("mean_chars"),
        )
        .orderBy("source")
    )
