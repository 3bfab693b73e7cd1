"""Text-analysis operators over the ``documents`` table: language ID,
quality scoring, token counting, document fingerprinting.

These are the per-document scoring passes a training-data pipeline runs
before filtering/dedup (cf. C4/Gopher-style quality rules, public).  All
are pure columnar expressions (regex + higher-order array functions) --
zero Python in the executors, whole plan stays in WholeStageCodegen.

Scale notes (100 TB): every query is a narrow map over the scan (no
shuffle at all except the driver-side result fetch) -- these pipelines
are scan-bound, which is exactly what you want: they scale linearly with
executors and read only the ``text`` column (column pruning).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .base import SQL_NORM_HASH, norm_hash, spread, t
from .dedup import SQL_TOKENS, _h32, _tokens, sql_h32

QUERIES = {}
ORACLE = {}


def q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle:
            ORACLE[name] = oracle
        return fn

    return reg


# ---------------------------------------------------------------- t01
# Tiny stopword marker lists (public, language-characteristic function
# words).  Scores = fraction of tokens in each language's marker set;
# argmax with fixed tie-break order = predicted language.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "por", "para", "con", "que"],
}


def _marker_arr(lang: str) -> str:
    return "array(" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + ")"


def _marker_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"


def _t01_oracle() -> str:
    scores = ",\n       ".join(
        f"len(list_filter(toks, x -> list_contains({_marker_sql(lg)}, x)))"
        f"::DOUBLE / greatest(len(toks), 1) AS score_{lg}"
        for lg in LANG_MARKERS
    )
    langs = list(LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lg in langs[1:]:
        pred = f"CASE WHEN score_{lg} > {best} THEN '{lg}' ELSE {pred} END"
        best = f"greatest({best}, score_{lg})"
    return f"""
WITH toks AS (SELECT doc_id, lang, {SQL_TOKENS} AS toks FROM documents),
scored AS (SELECT doc_id, lang, {scores} FROM toks)
SELECT doc_id, lang AS labeled_lang, {pred} AS pred_lang,
       score_en, score_de, score_fr, score_es
FROM scored
"""


@q("t01_language_id", oracle=_t01_oracle())
def t01(spark, sf):
    """N-gram/stopword-heuristic language ID: per-language marker-token
    ratio, argmax with a fixed tie-break order (later language wins only
    on a strictly greater score)."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.col("lang").alias("labeled_lang"), _tokens().alias("toks")
    )
    for lg in LANG_MARKERS:
        d = d.withColumn(
            f"score_{lg}",
            F.expr(
                f"size(filter(toks, x -> array_contains({_marker_arr(lg)}, x)))"
                f" / cast(greatest(size(toks), 1) as double)"
            ),
        )
    langs = list(LANG_MARKERS)
    pred = F.lit(langs[0])
    best = F.col(f"score_{langs[0]}")
    for lg in langs[1:]:
        pred = F.when(F.col(f"score_{lg}") > best, F.lit(lg)).otherwise(pred)
        best = F.greatest(best, F.col(f"score_{lg}"))
    return d.select(
        "doc_id",
        "labeled_lang",
        pred.alias("pred_lang"),
        *[f"score_{lg}" for lg in LANG_MARKERS],
    )


# ---------------------------------------------------------------- t02
_STOPWORDS_SQL = _marker_sql("en")
_STOPWORDS_ARR = _marker_arr("en")


@q(
    "t02_quality_score",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         {SQL_TOKENS} AS toks,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents
),
g AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))
           AS n_stop,
         n_punct, n_digit
  FROM f
)
SELECT doc_id, n_chars, n_tokens,
       n_unique::DOUBLE / greatest(n_tokens, 1) AS unique_ratio,
       n_stop::DOUBLE / greatest(n_tokens, 1) AS stopword_ratio,
       n_punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
       n_digit::DOUBLE / greatest(n_chars, 1) AS digit_ratio,
       CASE WHEN n_tokens >= 20
             AND n_unique::DOUBLE / greatest(n_tokens, 1) >= 0.2
             AND n_digit::DOUBLE / greatest(n_chars, 1) <= 0.2
            THEN 1 ELSE 0 END AS keep
FROM g
""",
)
def t02(spark, sf):
    """Gopher-style quality signals: length, unique-token ratio, stopword
    ratio, punctuation/digit density, and a boolean keep rule."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        _tokens().alias("toks"),
        F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).alias("n_punct"),
        F.length(F.regexp_replace("text", r"[^0-9]", "")).alias("n_digit"),
    )
    g = d.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
        F.expr(
            f"size(filter(toks, x -> array_contains({_STOPWORDS_ARR}, x)))"
        ).alias("n_stop"),
        "n_punct",
        "n_digit",
    )
    nt = F.greatest(F.col("n_tokens"), F.lit(1))
    nc = F.greatest(F.col("n_chars"), F.lit(1))
    uniq = F.col("n_unique").cast("double") / nt
    stop = F.col("n_stop").cast("double") / nt
    punct = F.col("n_punct").cast("double") / nc
    digit = F.col("n_digit").cast("double") / nc
    keep = (
        F.when(
            (F.col("n_tokens") >= 20) & (uniq >= 0.2) & (digit <= 0.2), 1
        ).otherwise(0)
    )
    return g.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        uniq.alias("unique_ratio"),
        stop.alias("stopword_ratio"),
        punct.alias("punct_ratio"),
        digit.alias("digit_ratio"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------- t03
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


@q(
    "t03_token_counts",
    oracle=f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS bpe_tokens,
       length(text)::DOUBLE
         / greatest(len(regexp_extract_all(lower(text), '{_BPE_RE}')), 1)
         AS chars_per_token
FROM documents
""",
)
def t03(spark, sf):
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (letter runs / digit runs / single punctuation), chars-per-token."""
    d = t(spark, sf, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0)
    )
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (
            F.length("text").cast("double")
            / F.greatest(bpe, F.lit(1)).cast("double")
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------- t04
_FP_MOD = 2147483647  # 2^31 - 1
_FP_MUL = 1000003


@q(
    "t04_doc_fingerprint",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(toks,
             x -> ('0x' || substr(md5(x), 1, 5))::BIGINT)),
         (acc, v) -> (acc * {_FP_MUL} + v) % {_FP_MOD}) AS fingerprint
FROM toks
""",
)
def t04(spark, sf):
    """Rolling polynomial hash over the token stream (order-sensitive doc
    fingerprint, Karp-Rabin style): acc = (acc*M + h20(tok)) mod (2^31-1).

    h20 = first 5 md5 hex chars (20 bits) keeps acc*M + v inside int64.
    """
    d = t(spark, sf, "documents").select("doc_id", _tokens().alias("toks"))
    hv = (
        "transform(toks, x -> cast(conv(substring(md5(x), 1, 5), 16, 10) "
        "as bigint))"
    )
    return d.select(
        "doc_id",
        F.expr(
            f"aggregate({hv}, cast(0 as bigint), "
            f"(acc, v) -> (acc * {_FP_MUL} + v) % {_FP_MOD})"
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------- t06
@q(
    "t06_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(n.n::DOUBLE / df.df) AS tfidf
  FROM tf JOIN df ON df.term = tf.term, n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
""",
)
def t06(spark, sf):
    """TF-IDF top-3 terms per document: tf x ln(N/df), ranked per doc.

    Scale: two shuffles (term counts, df) + one window per doc; df is a
    tiny broadcastable table at any corpus size (vocab-bounded)."""
    from pyspark.sql import Window as W

    toks = (
        t(spark, sf, "documents")
        .select("doc_id", F.explode(_tokens()).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = t(spark, sf, "documents").count()
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


# ---------------------------------------------------------------- t07
@q(
    "t07_ocr_span_recovery",
    oracle="""
WITH raw AS (
  SELECT doc_id, n_chars,
         CAST(n_chars AS VARCHAR) || ' tonnes ' || substr(text, 1, 40)
           AS line
  FROM documents
),
corr AS (SELECT doc_id, n_chars, translate(line, '015', 'OlS') AS line
         FROM raw),
rep AS (
  SELECT doc_id, n_chars, line,
         list_transform(string_split(line, ' '),
           t -> CASE WHEN regexp_full_match(t, '[0-9OolISB.,]+')
                      AND regexp_matches(t, '[0-9OolISB]')
                     THEN translate(t, 'OolISB', '001158') ELSE t END)
           AS toks
  FROM corr
)
SELECT doc_id,
       string_split(line, ' ')[1] AS corrupted_token,
       toks[1] AS repaired_token,
       TRY_CAST(toks[1] AS BIGINT) AS recovered_n,
       TRY_CAST(toks[1] AS BIGINT) = n_chars AS recovered_ok
FROM rep
""",
)
def t07(spark, sf):
    """OCR-text span recovery: deterministically inject the classic OCR
    glyph confusions (0→O, 1→l, 5→S) into a number-bearing line, then
    repair with the columnar confusion map and verify the number
    round-trips (functions.ocr_repair_col).  Zero Python at runtime."""
    from ..functions import ocr_repair_col

    d = t(spark, sf, "documents")
    raw = F.concat(
        F.col("n_chars").cast("string"),
        F.lit(" tonnes "),
        F.substring("text", 1, 40),
    )
    corr = F.translate(raw, "015", "OlS")
    rep = ocr_repair_col(corr)
    first = lambda c: F.element_at(F.split(c, " "), 1)  # noqa: E731
    recovered = first(rep).try_cast("long")
    return d.select(
        "doc_id",
        first(corr).alias("corrupted_token"),
        first(rep).alias("repaired_token"),
        recovered.alias("recovered_n"),
        (recovered == F.col("n_chars")).alias("recovered_ok"),
    )


# ------------------------------------------------------------- t09
def _duck_grams(n: int) -> str:
    """DuckDB word n-gram relation over the split words column."""
    return (
        f"SELECT doc_id, unnest([array_to_string(w[i:i+{n - 1}], ' ')"
        f" for i in range(1, len(w) - {n - 2})]) AS g"
        f" FROM w WHERE len(w) >= {n}"
    )


def _duck_rep(n: int) -> str:
    return f"""
  SELECT doc_id,
         MAX(cnt * length(g)) AS top,
         SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup
  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM ({_duck_grams(n)}) GROUP BY 1, 2)
  GROUP BY doc_id"""


_T09_ORACLE = f"""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
           FROM documents),
c2 AS ({_duck_rep(2)}),
c3 AS ({_duck_rep(3)})
SELECT d.doc_id,
       COALESCE(c2.top, 0)::DOUBLE / GREATEST(d.n_chars, 1) AS top2_frac,
       COALESCE(c3.top, 0)::DOUBLE / GREATEST(d.n_chars, 1) AS top3_frac,
       COALESCE(c2.dup, 0)::DOUBLE / GREATEST(d.n_chars, 1) AS dup2_frac
FROM documents d
LEFT JOIN c2 USING (doc_id)
LEFT JOIN c3 USING (doc_id)
"""


def _spark_grams(n: int) -> str:
    """Sorted word n-gram array (SQL expr over the `w` words column)."""
    return (
        f"sort_array(CASE WHEN size(w) >= {n} THEN"
        f" transform(sequence(1, size(w) - {n - 1}),"
        f" i -> concat_ws(' ', slice(w, i, {n})))"
        f" ELSE CAST(array() AS array<string>) END)"
    )


def _gram_src(g) -> str:
    """Gram-array SQL source: an int builds the sorted n-gram expr
    inline; a str names an already-projected sorted gram column."""
    return _spark_grams(g) if isinstance(g, int) else g


def _spark_top(g):
    """Max over distinct n-grams of count*len — one pass over the SORTED
    gram array (run-length encode adjacent equals), zero shuffle."""
    return F.expr(
        f"""aggregate({_gram_src(g)},
        named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
        (a, x) -> IF(x <=> a.prev,
            named_struct('prev', x, 'run', a.run + 1,
                         'best', GREATEST(a.best, (a.run + 1) * length(x))),
            named_struct('prev', x, 'run', 1,
                         'best', GREATEST(a.best, length(x)))),
        a -> a.best)"""
    )


def _spark_dup(g):
    """Total chars of n-gram occurrences belonging to duplicated grams
    (run length >= 2 in the sorted array) — same single pass."""
    return F.expr(
        f"""aggregate({_gram_src(g)},
        named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'tot', 0),
        (a, x) -> IF(x <=> a.prev,
            named_struct('prev', x, 'run', a.run + 1,
                         'tot', a.tot + IF(a.run = 1, 2 * length(x),
                                           length(x))),
            named_struct('prev', x, 'run', 1, 'tot', a.tot)),
        a -> a.tot)"""
    )


@q("t09_repetition_profile", oracle=_T09_ORACLE)
def t09(spark, sf):
    """Gopher-style repetition signals (the A1.1 repetition-removal
    family, public): per document, the character fraction covered by
    the heaviest word 2-/3-gram (count x length of the gram maximizing
    it) and the character fraction inside duplicated n-grams (all occurrences
    of any n-gram seen more than once; overlaps counted per occurrence
    — documented approximation of the paper's char-dedup variant). n
    is a parameter; the paper applies the dup signal at n=5..10, but
    the short synthetic word-streams only repeat 2-grams, so n=2 is
    the exercised setting here (same code path, any n).

    Scale shape: ZERO shuffle. Instead of explode -> groupBy(doc_id,
    gram) -> join back (a full shuffle of the n-gram stream, ~5x the
    corpus bytes), each doc's gram multiset is run-length encoded in
    one pass over its own sorted gram array via `aggregate` — the
    whole plan is a zero-Exchange narrow map, all JVM-side (the
    higher-order aggregate is CodegenFallback but never Python),
    linear in executors at 100 TB. The DuckDB twin uses the classic
    unnest/GROUP BY formulation, so the two strategies cross-check
    each other."""
    d = t(spark, sf, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("w")
    )
    # Build each sorted gram array ONCE (the HOF aggregates are
    # CodegenFallback, so Catalyst will not CSE a repeated expr) and
    # run both run-length folds over the projected column.
    d = d.select(
        "doc_id",
        "n_chars",
        F.expr(_spark_grams(2)).alias("g2"),
        F.expr(_spark_grams(3)).alias("g3"),
    )
    nc = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return d.select(
        "doc_id",
        (_spark_top("g2").cast("double") / nc).alias("top2_frac"),
        (_spark_top("g3").cast("double") / nc).alias("top3_frac"),
        (_spark_dup("g2").cast("double") / nc).alias("dup2_frac"),
    )


# ------------------------------------------------------------- t10
# PII patterns shared verbatim by both engines: Java (Spark) and RE2
# (DuckDB) — no lookaround/backrefs, identical match semantics.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+[0-9][0-9-]{6,}[0-9]"

# The synthetic corpus carries no PII, so each doc is decorated with a
# deterministic doc_id-derived email + IP + phone before scrubbing —
# the operator is exercised on every row and both engines decorate
# identically (documented synthetic injection, not data augmentation).
_PII_DECOR_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _pii_sql(s: str) -> str:
    # DuckDB standard string literals keep backslashes literal — only
    # quotes need escaping (same convention as the p01 pattern library).
    return s.replace("'", "''")


# Counts are taken SEQUENTIALLY (each kind counted on the text with the
# previous kinds already masked) so n_* always equals the number of
# [KIND] tokens actually emitted — a dotted-digit run inside an email
# local part is swallowed by [EMAIL] and must not also count as an IP.
_T10_ORACLE = f"""
WITH dec AS (SELECT doc_id, {_PII_DECOR_SQL} AS d FROM documents),
m1 AS (SELECT doc_id, d,
              regexp_replace(d, '{_pii_sql(_PII_EMAIL)}', '[EMAIL]', 'g') AS e
       FROM dec),
m2 AS (SELECT doc_id, d, e,
              regexp_replace(e, '{_pii_sql(_PII_IPV4)}', '[IP]', 'g') AS i
       FROM m1)
SELECT doc_id,
       CAST(len(regexp_extract_all(d, '{_pii_sql(_PII_EMAIL)}')) AS INTEGER)
         AS n_email,
       CAST(len(regexp_extract_all(e, '{_pii_sql(_PII_IPV4)}')) AS INTEGER)
         AS n_ipv4,
       CAST(len(regexp_extract_all(i, '{_pii_sql(_PII_PHONE)}')) AS INTEGER)
         AS n_phone,
       regexp_replace(i, '{_pii_sql(_PII_PHONE)}', '[PHONE]', 'g') AS masked
FROM m2
"""


@q("t10_pii_scrub", oracle=_T10_ORACLE)
def t10(spark, sf):
    """PII scrubbing (the standard pre-training redaction pass, cf.
    public C4/Dolma pipeline rules): detect and mask emails, IPv4
    addresses, and international-format phone numbers, emitting per-doc
    counts plus the masked text. Masking order email -> IP -> phone is
    fixed, and each kind is COUNTED on the text with the previous kinds
    already masked, so digit runs inside an already-masked span can't
    re-match or double-count (n_* = number of [KIND] tokens emitted).

    Scale shape: a narrow scan-local map (three regexp_count + three
    chained regexp_replace, all JVM-side in WholeStageCodegen) — zero
    shuffle, linear in executors; the masked column is the same width
    class as the input so no skew is introduced."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(_PII_DECOR_SQL.replace("VARCHAR", "STRING")).alias("d")
    )
    m1 = d.withColumn(
        "e", F.regexp_replace(F.col("d"), _PII_EMAIL, "[EMAIL]")
    )
    m2 = m1.withColumn("i", F.regexp_replace(F.col("e"), _PII_IPV4, "[IP]"))
    return m2.select(
        "doc_id",
        F.regexp_count("d", F.lit(_PII_EMAIL)).cast("int").alias("n_email"),
        F.regexp_count("e", F.lit(_PII_IPV4)).cast("int").alias("n_ipv4"),
        F.regexp_count("i", F.lit(_PII_PHONE)).cast("int").alias("n_phone"),
        F.regexp_replace(F.col("i"), _PII_PHONE, "[PHONE]").alias("masked"),
    )


# ------------------------------------------------------------- t08
_T08_QUOTA = 25
_T08_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         lang || '#' || CAST(n_chars // 2000 AS VARCHAR) AS stratum,
         (doc_id * 2654435761) % 1000000007 AS h
  FROM documents
),
r AS (
  SELECT doc_id, stratum,
         ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rk
  FROM s
)
SELECT doc_id, stratum, CAST(rk AS INTEGER) AS sample_rank
FROM r WHERE rk <= {_T08_QUOTA}
"""


@q("t08_stratified_sample", oracle=_T08_ORACLE)
def t08(spark, sf):
    """Stratified quota sampling for training-data mixing: a fixed
    per-stratum quota (stratum = language x 2000-char length bucket)
    drawn DETERMINISTICALLY — docs rank within their stratum by a
    multiplicative hash of doc_id (Knuth 2654435761, mod a prime), so
    the same corpus always yields the same sample and re-runs are
    reproducible without a seed exchange.

    Scale shape: one shuffle on stratum (the rank window); at 100 TB
    with a hot stratum, pre-filter per partition first (each partition
    keeps its local top-quota by hash, a map-side top-K, before the
    global window) — the quota bound makes the post-shuffle row count
    |strata| x quota regardless of input size."""
    from pyspark.sql import Window as W

    s = t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            "#", "lang", F.expr("CAST(n_chars DIV 2000 AS STRING)")
        ).alias("stratum"),
        F.expr("(doc_id * 2654435761) % 1000000007").alias("h"),
    )
    rk = F.row_number().over(
        W.partitionBy("stratum").orderBy("h", "doc_id")
    )
    return (
        s.withColumn("sample_rank", rk)
        .filter(F.col("sample_rank") <= _T08_QUOTA)
        .select("doc_id", "stratum", "sample_rank")
    )


# ------------------------------------------------------------- t11
# The full Gopher rule set (Rae et al. 2021, Table A1 — public) plus
# the two classic C4 content filters (Raffel et al. 2020): lorem-ipsum
# and curly-brace (code) detection.  The synthetic corpus is clean
# prose, so — exactly like t10's PII decoration — each rule's firing
# population is injected DETERMINISTICALLY from doc_id, with the SAME
# decoration expression inlined into the Spark plan and the DuckDB
# twin:
#   doc_id % 7  == 0  ->  four all-digit words      (alpha-word rule)
#   doc_id % 9  == 0  ->  every line suffixed ' ...' (ellipsis rules)
#   doc_id % 11 == 0  ->  '{' '}' words             (C4 brace filter)
#   doc_id % 13 == 0  ->  'lorem ipsum dolor'       (C4 lorem filter)
#   doc_id % 6  == 0  ->  every line bullet-prefixed '- '
# Lines are 12-word chunks (documents.text carries no newlines).
_T11_STOPS = "'the','be','to','of','and','that','have','with'"


def _t11_spark(d):
    """Decorated words/lines/final-text columns (Spark side)."""
    d = d.withColumn("wbase", F.split("text", " "))
    d = d.withColumn(
        "w",
        F.expr(
            "concat(wbase,"
            " CASE WHEN doc_id % 7 = 0"
            "   THEN array('12345','67890','11111','22222')"
            "   ELSE array() END,"
            " CASE WHEN doc_id % 11 = 0 THEN array('{','}')"
            "   ELSE array() END,"
            " CASE WHEN doc_id % 13 = 0"
            "   THEN array('lorem','ipsum','dolor') ELSE array() END)"
        ),
    )
    d = d.withColumn(
        "nl", F.expr("CAST(ceil(size(w) / 12.0) AS INT)")
    ).withColumn(
        "lines",
        F.expr(
            "transform(sequence(1, nl), i -> concat("
            " CASE WHEN doc_id % 6 = 0 THEN '- ' ELSE '' END,"
            " array_join(slice(w, (i - 1) * 12 + 1, 12), ' '),"
            " CASE WHEN doc_id % 9 = 0 THEN ' ...' ELSE '' END))"
        ),
    )
    return d.withColumn("final", F.expr("array_join(lines, '\n')")) \
            .withColumn("words", F.split("final", r"\s+"))


_T11_ORACLE = f"""
WITH dec AS (
  SELECT doc_id,
         string_split(text, ' ')
           || (CASE WHEN doc_id % 7 = 0
                THEN ['12345','67890','11111','22222']
                ELSE [] END)
           || (CASE WHEN doc_id % 11 = 0 THEN ['{{','}}'] ELSE [] END)
           || (CASE WHEN doc_id % 13 = 0
                THEN ['lorem','ipsum','dolor'] ELSE [] END) AS w
  FROM documents
),
ln AS (
  SELECT doc_id, w,
         CAST(ceil(len(w) / 12.0) AS INTEGER) AS nl
  FROM dec
),
lines AS (
  SELECT doc_id, w, nl,
         list_transform(generate_series(1, nl), i ->
           (CASE WHEN doc_id % 6 = 0 THEN '- ' ELSE '' END)
           || array_to_string(list_slice(w, (i - 1) * 12 + 1, i * 12), ' ')
           || (CASE WHEN doc_id % 9 = 0 THEN ' ...' ELSE '' END)) AS ls
  FROM ln
),
fin AS (
  SELECT doc_id, nl, ls,
         array_to_string(ls, chr(10)) AS final,
         string_split_regex(array_to_string(ls, chr(10)), '\\s+') AS words
  FROM lines
)
SELECT doc_id,
       CAST(len(words) AS INTEGER) AS n_words,
       list_sum(list_transform(words, x -> length(x)))::DOUBLE
         / greatest(len(words), 1) AS mean_word_len,
       len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::DOUBLE
         / greatest(len(words), 1) AS alpha_frac,
       len(list_filter(words, x -> x = '...' OR x = '#'))::DOUBLE
         / greatest(len(words), 1) AS sym_ratio,
       CAST(len(list_filter([{_T11_STOPS}],
             s -> list_contains(words, s))) AS INTEGER) AS stop_hits,
       len(list_filter(ls, l -> l LIKE '- %'))::DOUBLE
         / greatest(nl, 1) AS bullet_frac,
       len(list_filter(ls, l -> l LIKE '%...'))::DOUBLE
         / greatest(nl, 1) AS ellipsis_frac,
       CAST(final LIKE '%lorem ipsum%' AS INTEGER) AS has_lorem,
       CAST(contains(final, '{{') AS INTEGER) AS has_brace,
       CAST((len(words) BETWEEN 50 AND 100000)
        AND (list_sum(list_transform(words, x -> length(x)))::DOUBLE
               / greatest(len(words), 1) BETWEEN 3 AND 10)
        AND (len(list_filter(words, x -> x = '...' OR x = '#'))::DOUBLE
               / greatest(len(words), 1) <= 0.1)
        AND (len(list_filter(ls, l -> l LIKE '- %'))::DOUBLE
               / greatest(nl, 1) < 0.9)
        AND (len(list_filter(ls, l -> l LIKE '%...'))::DOUBLE
               / greatest(nl, 1) < 0.3)
        AND (len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::DOUBLE
               / greatest(len(words), 1) >= 0.8)
        AND (len(list_filter([{_T11_STOPS}],
               s -> list_contains(words, s))) >= 2) AS INTEGER)
         AS gopher_keep,
       CAST(NOT (final LIKE '%lorem ipsum%')
        AND NOT contains(final, '{{') AS INTEGER) AS c4_keep
FROM fin
"""


@q("t11_gopher_rules", oracle=_T11_ORACLE)
def t11(spark, sf):
    """Gopher + C4 document-quality rules, the full public set: word
    count in [50, 100000], mean word length in [3, 10], symbol-to-word
    ratio ('...' / '#') <= 0.1, bullet-line fraction < 0.9,
    ellipsis-line-end fraction < 0.3, alphabetic-word fraction >= 0.8,
    >= 2 of the 8 Gopher stopwords present; C4's lorem-ipsum and
    curly-brace content filters.  Rule populations are injected
    deterministically from doc_id (see module comment) so every rule
    has both firing and passing documents in any corpus slice.

    Scale shape: one narrow scan-local projection — higher-order array
    functions over the split word list, zero shuffle, zero Python; the
    decorated text is never materialized wider than the row it came
    from.  At 100 TB this runs at scan speed and composes with t02's
    keep flag as a single filter pass."""
    d = _t11_spark(t(spark, sf, "documents").select("doc_id", "text"))
    words, ls = F.col("words"), F.col("lines")
    nw = F.greatest(F.size(words), F.lit(1))
    nl = F.greatest(F.col("nl"), F.lit(1))
    mean_len = (
        F.expr("aggregate(words, 0, (a, x) -> a + length(x))").cast("double")
        / nw
    )
    alpha = (
        F.expr("size(filter(words, x -> x rlike '[a-z]'))").cast("double")
        / nw
    )
    sym = (
        F.expr("size(filter(words, x -> x = '...' OR x = '#'))")
        .cast("double") / nw
    )
    stops = F.expr(
        f"size(filter(array({_T11_STOPS}),"
        " s -> array_contains(words, s)))"
    )
    bullet = (
        F.expr("size(filter(lines, l -> l LIKE '- %'))").cast("double") / nl
    )
    ellip = (
        F.expr("size(filter(lines, l -> l LIKE '%...'))").cast("double")
        / nl
    )
    lorem = F.col("final").contains("lorem ipsum")
    brace = F.col("final").contains("{")
    gopher = (
        F.size(words).between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (sym <= 0.1)
        & (bullet < 0.9)
        & (ellip < 0.3)
        & (alpha >= 0.8)
        & (stops >= 2)
    )
    return d.select(
        "doc_id",
        F.size(words).cast("int").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha.alias("alpha_frac"),
        sym.alias("sym_ratio"),
        stops.cast("int").alias("stop_hits"),
        bullet.alias("bullet_frac"),
        ellip.alias("ellipsis_frac"),
        lorem.cast("int").alias("has_lorem"),
        brace.cast("int").alias("has_brace"),
        gopher.cast("int").alias("gopher_keep"),
        (~lorem & ~brace).cast("int").alias("c4_keep"),
    )


# ------------------------------------------------------------- t12
# URL / domain filtering (the C4 / RefinedWeb source-level rule,
# public): extract URLs, parse the registrable domain, and flag docs
# whose domain sits on a blocklist.  documents.text carries no URLs,
# so they are injected deterministically from doc_id (the t10/t11
# decoration pattern): every doc gets a source URL whose domain cycles
# through a 7-entry pool by doc_id % 7, two of which are blocklisted;
# doc_id % 4 == 0 docs carry a second inline URL.
_T12_DOMAINS = (
    "news.example.com", "blog.example.org", "spam.example.net",
    "docs.example.io", "ads.example.biz", "wiki.example.edu",
    "data.example.gov",
)
_T12_BLOCK = ("spam.example.net", "ads.example.biz")
_T12_URL_RE = r"https?://[a-z0-9.\-]+/[a-z0-9/\-]*"


def _t12_decor_spark():
    arr = ", ".join(f"'{d}'" for d in _T12_DOMAINS)
    return (
        "concat(text, ' source https://',"
        f" element_at(array({arr}), CAST(doc_id % 7 AS INT) + 1),"
        " '/page/', CAST(doc_id AS STRING),"
        " CASE WHEN doc_id % 4 = 0 THEN"
        "   concat(' see https://', element_at(array(" + arr + "),"
        "     CAST((doc_id + 3) % 7 AS INT) + 1), '/ref')"
        "  ELSE '' END)"
    )


def _t12_decor_sql():
    arr = ", ".join(f"'{d}'" for d in _T12_DOMAINS)
    return (
        "text || ' source https://' ||"
        f" ([{arr}])[CAST(doc_id % 7 AS INTEGER) + 1] ||"
        " '/page/' || CAST(doc_id AS VARCHAR) ||"
        " (CASE WHEN doc_id % 4 = 0 THEN"
        f"   ' see https://' || ([{arr}])[CAST((doc_id + 3) % 7 AS INTEGER) + 1] || '/ref'"
        "  ELSE '' END)"
    )


_T12_ORACLE = f"""
WITH dec AS (SELECT doc_id, {_t12_decor_sql()} AS d FROM documents),
u AS (
  SELECT doc_id, d, regexp_extract_all(d, '{_T12_URL_RE}') AS urls
  FROM dec
)
SELECT doc_id,
       CAST(len(urls) AS INTEGER) AS n_urls,
       array_to_string(list_transform(urls,
         x -> regexp_extract(x, 'https?://([a-z0-9.\\-]+)', 1)), '|')
         AS domains,
       CAST(len(list_filter(urls,
         x -> list_contains({list(_T12_BLOCK)},
                regexp_extract(x, 'https?://([a-z0-9.\\-]+)', 1))))
         AS INTEGER) AS n_blocked,
       CAST(len(list_filter(urls,
         x -> list_contains({list(_T12_BLOCK)},
                regexp_extract(x, 'https?://([a-z0-9.\\-]+)', 1)))) = 0
         AS INTEGER) AS url_keep
FROM u
"""


@q("t12_url_filter", oracle=_T12_ORACLE)
def t12(spark, sf):
    """URL extraction + domain blocklist filtering (C4/RefinedWeb
    source rules): pull every URL, parse the host, count blocklisted
    hits, and emit the keep verdict.  URLs are injected
    deterministically from doc_id (module comment) with two of seven
    domains blocklisted, so both verdicts occur in any corpus slice.

    Scale shape: scan-local regexp_extract_all + higher-order filter
    against a literal blocklist — zero shuffle.  At production the
    blocklist is millions of domains: the same plan swaps the literal
    array for a broadcast hash join on the parsed host (d09's
    blocklist shape); the extraction stays scan-local either way.

    ``domains`` is the ordered host list joined with '|' into one
    scalar string — the round-driver's row canonicalizer hashes
    scalar cells only (array cells raise ``unhashable type: 'list'``
    there), so every driver-registered output must stay flat."""
    blk = ", ".join(f"'{d}'" for d in _T12_BLOCK)
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(_t12_decor_spark()).alias("d")
    )
    host = "x -> regexp_extract(x, 'https?://([a-z0-9.\\\\-]+)', 1)"
    u = d.select(
        "doc_id",
        F.expr(f"regexp_extract_all(d, '{_T12_URL_RE}', 0)").alias("urls"),
    )
    blocked = F.expr(
        f"size(filter(urls, x -> array_contains(array({blk}),"
        " regexp_extract(x, 'https?://([a-z0-9.\\\\-]+)', 1))))"
    )
    return u.select(
        "doc_id",
        F.size("urls").cast("int").alias("n_urls"),
        F.expr(f"concat_ws('|', transform(urls, {host}))").alias("domains"),
        blocked.cast("int").alias("n_blocked"),
        (blocked == 0).cast("int").alias("url_keep"),
    )


# ------------------------------------------------------------- t13
_T13_BIN = 2048


@q(
    "t13_sequence_packing",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM tok
)
SELECT doc_id, lang, CAST(n_tok AS INTEGER) AS n_tok,
       CAST((c - n_tok) // {_T13_BIN} AS INTEGER) AS first_bin,
       CAST((c - 1) // {_T13_BIN} AS INTEGER) AS last_bin,
       CAST((c - n_tok) % {_T13_BIN} AS INTEGER) AS offset_in_bin
FROM cum
""",
)
def t13(spark, sf):
    """Sequence packing for LLM training (the standard concat-then-
    chunk batch builder, public): documents concatenate in doc_id
    order within their language shard and the token stream is chunked
    into fixed {bin}-token bins; each doc reports the bin interval it
    lands in and its offset in the first bin — enough for a writer to
    emit the packed examples without re-scanning.

    Scale shape: ONE shuffle (the per-shard cumulative-sum window);
    the shard key (language here; shard id in production) bounds every
    window partition, so packing parallelizes across shards and no
    global order exists anywhere — bin ids are (shard, bin) pairs.
    Pure integer window math, bit-stable under any partitioning."""
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = F.sum("n_tok").over(w)
    return d.select(
        "doc_id", "lang",
        F.col("n_tok").cast("int").alias("n_tok"),
        ((c - F.col("n_tok")) / _T13_BIN).cast("int").alias("first_bin"),
        ((c - 1) / _T13_BIN).cast("int").alias("last_bin"),
        ((c - F.col("n_tok")) % _T13_BIN).cast("int").alias("offset_in_bin"),
    )


# ------------------------------------------------------------- t14
# ln(2) as a shared literal: both engines fold the same constant, so
# the bits-per-token division is bit-identical.
_LN2 = "0.6931471805599453"

_T14_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
lm AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT sum(cnt) AS n, count(*) AS v FROM lm),
lp AS (
  SELECT tok,
         CAST(round(ln((cnt + 1.0) / (n + v)) * 1000000) AS BIGINT) AS lp
  FROM lm, tot
),
sc AS (
  SELECT tok.doc_id,
         CAST(sum(lp.lp) AS BIGINT) AS micro_lp_sum,
         count(*) AS n_tok
  FROM tok JOIN lp USING (tok)
  GROUP BY tok.doc_id
),
sb AS (
  SELECT d.doc_id, d.lang,
         CAST(sc.n_tok AS INTEGER) AS lm_n_tok,
         sc.micro_lp_sum,
         round(-(CAST(sc.micro_lp_sum AS DOUBLE) / 1000000.0)
               / sc.n_tok / {_LN2}, 6) AS lm_bits_per_tok,
         ntile(3) OVER (
           PARTITION BY d.lang
           ORDER BY CAST(sc.micro_lp_sum AS DOUBLE) / sc.n_tok DESC,
                    d.doc_id
         ) AS b
  FROM documents d JOIN sc USING (doc_id)
)
SELECT doc_id, lang, lm_n_tok, micro_lp_sum, lm_bits_per_tok,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
FROM sb
"""


@q("t14_lm_perplexity", oracle=_T14_ORACLE)
def t14(spark, sf):
    """CCNet-style perplexity filtering (public: Wenzek et al. 2020):
    train a unigram LM on the corpus itself (add-one smoothing), score
    every document in bits/token, and split each language shard into
    head/middle/tail perplexity buckets — the classic quality tiers a
    web-scale pipeline feeds to sampling.

    Cross-engine float discipline: the per-token log-prob is frozen to
    an integer (micro-nats, round(ln(p)*1e6) as BIGINT) BEFORE the
    per-doc aggregation, so the doc sum is exact integer math —
    independent of aggregation order (a float sum over a shuffled
    explode is NOT reproducible, let alone cross-engine). The only
    float ops after that are single divisions (IEEE-defined).

    Scale shape: pass 1 (LM training) is a token groupBy with map-side
    partials whose result is VOCABULARY-sized, then broadcast; pass 2
    is a scan + broadcast-hash join + one doc-grain shuffle. The
    bucket split is a per-language ntile window — at 100 TB you'd
    replace the exact ntile with approx_percentile cutoffs broadcast
    from a sample (same output contract), as CCNet does; the exact
    window here keeps the oracle twin precise."""
    d = t(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lm = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = lm.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("v")
    )
    lp = lm.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log((F.col("cnt") + 1.0) / (F.col("n") + F.col("v"))) * 1000000
        )
        .cast("long")
        .alias("lp"),
    )
    sc = (
        tok.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(F.sum("lp").alias("micro_lp_sum"), F.count("*").alias("n_tok"))
    )
    sb = d.select("doc_id", "lang").join(sc, "doc_id").select(
        "doc_id",
        "lang",
        F.col("n_tok").cast("int").alias("lm_n_tok"),
        "micro_lp_sum",
        F.round(
            -(F.col("micro_lp_sum").cast("double") / 1000000.0)
            / F.col("n_tok")
            / float(_LN2),
            6,
        ).alias("lm_bits_per_tok"),
        F.expr(
            "ntile(3) OVER (PARTITION BY lang ORDER BY "
            "CAST(micro_lp_sum AS DOUBLE) / n_tok DESC, doc_id)"
        ).alias("b"),
    )
    return sb.select(
        "doc_id", "lang", "lm_n_tok", "micro_lp_sum", "lm_bits_per_tok",
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ------------------------------------------------------------- t15
# Static domain weights for the mixture (public pattern: The Pile /
# DoReMi-style reweighted sampling). Weights are per-language here
# (domain = lang); unlisted domains get weight 1.
_T15_W = {"en": 4, "de": 3, "fr": 2, "es": 1, "zh": 1}
_T15_BUDGET_FRAC = 0.25  # token budget = 25% of the corpus

_T15_W_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _T15_W.items())
    + " ELSE 1 END"
)

_T15_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
         {_T15_W_SQL} AS w
  FROM documents
),
dom AS (
  SELECT lang, any_value(w) AS w, CAST(sum(n_tok) AS BIGINT) AS dom_tok
  FROM d GROUP BY lang
),
tot AS (
  SELECT CAST(sum(dom_tok) AS BIGINT) AS all_tok,
         CAST(sum(w) AS BIGINT) AS all_w
  FROM dom
),
rates AS (
  SELECT lang,
         least(1.0,
               ({_T15_BUDGET_FRAC} * all_tok * w / all_w) / dom_tok
         ) AS rate
  FROM dom, tot
)
SELECT d.doc_id, d.lang AS domain, CAST(d.n_tok AS INTEGER) AS n_tok,
       round(r.rate, 6) AS mix_rate,
       ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         % 1000000) / 1000000.0) < r.rate AS mix_keep
FROM d JOIN rates r USING (lang)
"""


@q("t15_domain_mixture", oracle=_T15_ORACLE)
def t15(spark, sf):
    """Domain-mixture sampling (public pattern: The Pile's per-source
    epochs / DoReMi's static domain weights): given target weights per
    domain (language here; source/quality-bucket in production) and a
    global token budget, compute each domain's sampling rate
    rate_d = min(1, budget * w_d / sum(w) / tokens_d) and keep each
    document by a deterministic doc_id-hash coin toss — the standard
    way a 100-TB pipeline rebalances a crawl toward a target mixture
    without materializing an intermediate shuffle of the corpus.

    Float discipline: every rate is a quotient of exact integers
    (token sums, weights) and one shared literal, so the Spark and
    DuckDB doubles are bit-identical; the hash coin is an integer
    modulus — no RNG, no row-order dependence.

    Scale shape: one map-side-combined groupBy to DOMAIN grain (a
    handful of rows), a broadcast of the rate table, then a narrow
    per-doc map. The corpus itself never shuffles."""
    d = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.expr(_T15_W_SQL).alias("w"),
    )
    dom = d.groupBy("lang").agg(
        F.first("w").alias("w"), F.sum("n_tok").alias("dom_tok")
    )
    tot = dom.agg(
        F.sum("dom_tok").alias("all_tok"), F.sum("w").alias("all_w")
    )
    rates = dom.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (
                F.lit(_T15_BUDGET_FRAC)
                * F.col("all_tok")
                * F.col("w")
                / F.col("all_w")
            )
            / F.col("dom_tok"),
        ).alias("rate"),
    )
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    ) / 1000000.0
    return d.join(F.broadcast(rates), "lang").select(
        "doc_id",
        F.col("lang").alias("domain"),
        F.col("n_tok").cast("int").alias("n_tok"),
        F.round("rate", 6).alias("mix_rate"),
        (coin < F.col("rate")).alias("mix_keep"),
    )


# ------------------------------------------------------------- t16
_T16_TERMS = ("spark", "filter", "window")  # fixed query, corpus vocab
_T16_K1 = 1.2
_T16_B = 0.75


def _t16_tf_sql(term: str) -> str:
    return f"len(list_filter(w, x -> x = '{term}'))"


def _t16_score_sql() -> str:
    """BM25 sum over the fixed query terms, in fixed term order (no
    aggregation — the sum is an expression, so float order is pinned)."""
    parts = []
    for i, term in enumerate(_T16_TERMS):
        tf = f"CAST(tf{i} AS DOUBLE)"
        idf = f"ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        norm = (
            f"(tf{i} + {_T16_K1} * (1.0 - {_T16_B} + {_T16_B} * dl / avgdl))"
        )
        parts.append(f"{idf} * ({tf} * {_T16_K1 + 1.0}) / {norm}")
    return " + ".join(parts)


_T16_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
tf AS (
  SELECT doc_id, len(w) AS dl,
         {", ".join(f"{_t16_tf_sql(t)} AS tf{i}"
                    for i, t in enumerate(_T16_TERMS))}
  FROM d
),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
         {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
                    for i in range(len(_T16_TERMS)))}
  FROM tf
),
j AS (
  SELECT tf.*, stats.n_docs,
         CAST(stats.sum_dl AS DOUBLE) / stats.n_docs AS avgdl,
         {", ".join(f"stats.df{i}" for i in range(len(_T16_TERMS)))}
  FROM tf, stats
)
SELECT doc_id, CAST(dl AS INTEGER) AS dl,
       {", ".join(f"CAST(tf{i} AS INTEGER) AS tf_{t}"
                  for i, t in enumerate(_T16_TERMS))},
       round({_t16_score_sql()}, 6) AS bm25
FROM j
"""


@q("t16_bm25_score", oracle=_T16_ORACLE)
def t16(spark, sf):
    """BM25 relevance scoring against a fixed query (public: Robertson
    & Zaragoza 2009) — the retrieval primitive a curation pipeline
    uses for targeted subset mining and decontamination triage.
    Per-term tf is a scan-local higher-order count; document frequency
    and average doc length are ONE corpus aggregation folded to a
    single broadcast row; the score is a fixed-order expression over
    exact integer stats (the only transcendental, ln, feeds a
    round(6) output).

    Scale shape: narrow map + one tiny stats agg + broadcast — the
    corpus never shuffles. A multi-query production variant turns the
    term list into a broadcast join on an inverted-index explode
    (d04's shape); the fixed-query form here is the per-doc scoring
    kernel of that plan."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    tf = d.select(
        "doc_id",
        F.size("w").alias("dl"),
        *[
            F.expr(f"size(filter(w, x -> x = '{term}'))").alias(f"tf{i}")
            for i, term in enumerate(_T16_TERMS)
        ],
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_T16_TERMS))
        ],
    )
    j = tf.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
    )
    return j.select(
        "doc_id",
        F.col("dl").cast("int").alias("dl"),
        *[
            F.col(f"tf{i}").cast("int").alias(f"tf_{term}")
            for i, term in enumerate(_T16_TERMS)
        ],
        F.round(F.expr(_t16_score_sql()), 6).alias("bm25"),
    )


# ------------------------------------------------------------- t17
_T17_CHUNK = 64  # tokens per chunk
_T17_STRIDE = 48  # => 16-token overlap between neighbours


@q(
    "t17_chunk_overlap",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, w, n,
         unnest(range(0,
           CASE WHEN n <= {_T17_CHUNK} THEN 0
                ELSE (n - {_T17_CHUNK} + {_T17_STRIDE} - 1)
                     // {_T17_STRIDE}
           END + 1)) AS chunk_idx
  FROM w
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * {_T17_STRIDE} AS INTEGER) AS start_tok,
       CAST(least({_T17_CHUNK}, n - chunk_idx * {_T17_STRIDE})
            AS INTEGER) AS n_toks,
       md5(array_to_string(
           list_slice(w, chunk_idx * {_T17_STRIDE} + 1,
                      chunk_idx * {_T17_STRIDE} + {_T17_CHUNK}), ' '))
         AS chunk_md5
FROM c
""",
)
def t17(spark, sf):
    """Overlapping fixed-window chunking — the RAG / context-window
    splitter (public pattern: {chunk}-token windows, {stride}-token
    stride => {overlap}-token overlap so no sentence is orphaned at a
    boundary). One output row per (doc, chunk) with a stable chunk id,
    token offsets, and the chunk's content hash — enough for an
    embedding/indexing stage to fan out without re-reading documents.

    Distinct from t13 (cross-doc packing concatenates docs into bins;
    chunking splits ONE doc into overlapping windows). Scale shape:
    scan-local — tokenize, compute the chunk count arithmetically,
    explode a bounded integer sequence, slice the token array
    JVM-side; zero shuffles, no UDFs, fan-out bounded at
    ceil(n_toks/stride) rows per doc."""
    C, S = _T17_CHUNK, _T17_STRIDE
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n"),
    )
    c = d.select(
        "doc_id", "w", "n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(F.col("n") <= C, F.lit(0)).otherwise(
                    F.floor((F.col("n") - C + S - 1) / S)
                ),
            )
        ).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * S
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_tok"),
        F.least(F.lit(C), F.col("n") - start).cast("int").alias("n_toks"),
        F.md5(F.concat_ws(" ", F.slice("w", start + 1, C))).alias(
            "chunk_md5"
        ),
    )


# ------------------------------------------------------------- t18
_T18_PROBES = (0.25, 0.5, 0.75, 0.95)


@q(
    "t18_length_quantiles",
    oracle=f"""
WITH q AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         quantile_cont(n_chars,
                       [{", ".join(str(p) for p in _T18_PROBES)}]) AS qs
  FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       {", ".join(
           f"round(qs[{i + 1}], 6) AS p{int(p * 100)}"
           for i, p in enumerate(_T18_PROBES)
       )}
FROM q
""",
)
def t18(spark, sf):
    """Per-language document-length quantiles — the corpus length
    profile every curation run reports — computed the way that SCALES:
    not Spark's `percentile` (a sort-based aggregate that buffers
    every group value in executor memory — exactly what dies on a
    10^12-doc language group), but the value-histogram method:
    count per (lang, length) — output bounded by DISTINCT lengths,
    not documents — cumulative rank ranges over the tiny histogram,
    then linear interpolation at the probe ranks. DuckDB verifies
    with its native `quantile_cont`, so the histogram algebra is
    cross-checked against an independent sort-based implementation.

    Scale shape: ONE data shuffle (the (lang, length) count with
    map-side partials); everything after operates on the histogram
    (|langs| x |distinct lengths| rows): one tiny lang-grain window
    pass + a probe explode bounded at 4 rows per histogram row."""
    probes = F.array(*[F.lit(p) for p in _T18_PROBES])
    h = (
        t(spark, sf, "documents")
        .groupBy("lang", F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("lang")
    h = h.select(
        "lang", "v",
        F.sum("c").over(wcum).alias("hi"),
        F.sum("c").over(wall).alias("n"),
    )
    # probe ranks (1-based, continuous): r = 1 + p * (n - 1)
    pr = h.select(
        "lang", "v", "hi", "n",
        F.explode(probes).alias("p"),
    ).withColumn("r", F.lit(1.0) + F.col("p") * (F.col("n") - 1))
    agg = pr.groupBy("lang", "p").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("hi") >= F.floor("r"), F.col("v"))).alias("vf"),
        F.min(F.when(F.col("hi") >= F.ceil("r"), F.col("v"))).alias("vc"),
        F.max(F.col("r") - F.floor("r")).alias("frac"),
    )
    qcol = F.col("vf") + F.col("frac") * (F.col("vc") - F.col("vf"))
    pivot = agg.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        *[
            F.round(
                F.max(F.when(F.col("p") == p, qcol)), 6
            ).alias(f"p{int(p * 100)}")
            for p in _T18_PROBES
        ],
    )
    return pivot


# ------------------------------------------------------------- t19
# Deterministic train/val/test split + cross-split duplicate-leakage
# audit.  Public pattern: every LLM data pipeline splits by a content-
# independent hash (so the split is reproducible and rebalance-free),
# then audits that no *content-identical* documents straddle splits
# (exact-dup leakage from train into eval is the classic contamination
# bug; cf. Lee et al. 2022 §5, the d08 decontamination rule's exact
# sibling).  Split coin and content key use different salts so the
# split is independent of the text.
_T19_BUCKETS = 10  # 0-7 train / 8 val / 9 test

_T19_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('split#' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % {_T19_BUCKETS}) AS bucket,
         {SQL_NORM_HASH.format(col="text")} AS content_key
  FROM documents
),
s AS (
  SELECT doc_id, lang, content_key,
         CASE WHEN bucket < 8 THEN 'train'
              WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
  FROM d
)
SELECT doc_id, lang, split, content_key,
       CAST(count(*) OVER (PARTITION BY content_key) AS INTEGER)
         AS n_copies,
       CAST(count(DISTINCT split) OVER (PARTITION BY content_key)
            AS INTEGER) AS n_splits,
       (count(*) OVER (PARTITION BY content_key) > 1
        AND count(DISTINCT split) OVER (PARTITION BY content_key) > 1)
         AS leaked
FROM s
"""


@q("t19_split_leakage", oracle=_T19_ORACLE)
def t19(spark, sf):
    """Hash-based train/val/test split (80/10/10) + duplicate-leakage
    audit: flag documents whose exact-content group spans more than one
    split (eval contamination by exact duplicates).

    Scale shape: split assignment is scan-local integer math on a salted
    doc_id hash (no data dependence, reproducible on any cluster); the
    audit is ONE shuffle on the content hash (the same key d01's exact
    dedup already shuffles on — in a production pipeline the two share
    the exchange / the materialized hash index).  Window over
    content_key rather than groupBy+join back: one exchange, no second
    scan of the corpus.
    """
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split#"),
                                   F.col("doc_id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("long") % _T19_BUCKETS
        ).alias("bucket"),
        norm_hash().alias("content_key"),
    )
    s = d.select(
        "doc_id",
        "lang",
        "content_key",
        F.when(F.col("bucket") < 8, "train")
        .when(F.col("bucket") == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    wk = W.partitionBy("content_key")
    n_copies = F.count("*").over(wk)
    n_splits = F.size(F.collect_set("split").over(wk))
    return s.select(
        "doc_id",
        "lang",
        "split",
        "content_key",
        n_copies.cast("int").alias("n_copies"),
        n_splits.cast("int").alias("n_splits"),
        ((n_copies > 1) & (n_splits > 1)).alias("leaked"),
    )


# ------------------------------------------------------------- t20
# Distributed BPE tokenizer training (Sennrich et al. 2016), two merge
# iterations unrolled (the s08 k-means pattern: every intermediate is
# value-hash-pinned, not just the final state).  This is the corpus
# pass every tokenizer build runs: word-frequency table -> adjacent
# symbol-pair counts -> merge the top pair -> recount.
#
# Merge-application semantics: Spark applies the true BPE left-to-right
# fold over each word's symbol array; the DuckDB twin applies two
# passes of non-overlapping global string replace on the space-joined
# symbols.  The two are provably identical unless a word contains 5+
# consecutive occurrences of the SAME merged symbol (replace pass 1
# takes every other occurrence of a self-adjacent pair, pass 2 the
# rest — a parity difference appears only at self-runs >= 5, which the
# [a-z]+ token stream of any natural-ish corpus never produces; the
# unit test pins the fold against a pure-Python BPE reference).
_T20_TOPN = 20


def _t20_fold(s_col: str):
    """Left-to-right BPE merge of pair (ta, tb) over symbol array s."""
    return F.aggregate(
        F.col(s_col),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.col("ta"))
            & (x == F.col("tb")),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.col("ta"), F.col("tb"))),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _t20_sql_merge(str_col: str) -> str:
    rep = (
        f"replace({str_col}, ' ' || ta || ' ' || tb || ' ', "
        f"' ' || ta || tb || ' ')"
    )
    rep2 = (
        f"replace({rep}, ' ' || ta || ' ' || tb || ' ', "
        f"' ' || ta || tb || ' ')"
    )
    return rep2


_T20_ORACLE = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY w),
s1 AS (
  SELECT w, freq,
         list_transform(generate_series(1, length(w)), i -> w[i]) || ['_']
           AS s
  FROM wf
),
p1 AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM s1, unnest(generate_series(1, len(s) - 1)) AS u(i)
),
c1 AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p1 GROUP BY a, b),
t1 AS (SELECT a AS ta, b AS tb FROM c1 ORDER BY cnt DESC, a, b LIMIT 1),
m1 AS (
  SELECT w, freq,
         {_t20_sql_merge("' ' || array_to_string(s, ' ') || ' '")} AS str
  FROM s1, t1
),
s2 AS (SELECT w, freq, string_split(trim(str), ' ') AS s FROM m1),
p2 AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM s2, unnest(generate_series(1, len(s) - 1)) AS u(i)
),
c2 AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p2 GROUP BY a, b),
r1 AS (
  SELECT 1 AS it, a, b, cnt,
         row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
  FROM c1
),
r2 AS (
  SELECT 2 AS it, a, b, cnt,
         row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
  FROM c2
)
SELECT it, a, b, cnt, (rk = 1) AS is_merge
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
WHERE rk <= {_T20_TOPN}
"""


@q("t20_bpe_merges", oracle=_T20_ORACLE)
def t20(spark, sf):
    """Two unrolled BPE merge iterations over the corpus: top-{topn}
    adjacent symbol pairs per iteration (is_merge marks the pair each
    iteration merges).

    Scale shape — exactly distributed tokenizer training: ONE shuffle
    to the word-frequency table (vocabulary grain, map-side combine),
    then per iteration one pair-count shuffle (symbol-pair grain —
    thousands of rows at any corpus size, map-side combined), a 1-row
    argmin broadcast back, and a scan-local fold applying the merge to
    the word table.  The corpus itself is touched once; iterations run
    over the vocabulary relation (the standard trick — word frequency
    is a sufficient statistic for BPE).  The top-20 window sorts the
    pair-vocab relation only.
    """
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents")
    words = (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    s1 = words.select(
        "w",
        "freq",
        F.expr(
            "concat(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), array('_'))"
        ).alias("s"),
    ).persist()

    def pair_counts(sdf):
        pairs = sdf.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> struct(element_at(s, i) AS a, "
                    "element_at(s, i + 1) AS b))"
                )
            ).alias("p"),
        )
        return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))

    def top1(cdf):
        return cdf.agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), "a", "b")).alias("m")
        ).select(F.col("m.a").alias("ta"), F.col("m.b").alias("tb"))

    c1 = pair_counts(s1).persist()
    s2 = (
        s1.crossJoin(F.broadcast(top1(c1)))
        .select("w", "freq", _t20_fold("s").alias("s"))
    )
    c2 = pair_counts(s2)
    wk = W.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))

    def ranked(cdf, it):
        return (
            cdf.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= _T20_TOPN)
            .select(
                F.lit(it).alias("it"),
                "a",
                "b",
                F.col("cnt").cast("long").alias("cnt"),
                (F.col("rk") == 1).alias("is_merge"),
            )
        )

    return ranked(c1, 1).unionByName(ranked(c2, 2))


t20.__doc__ = t20.__doc__.format(topn=_T20_TOPN)


# ------------------------------------------------------------- t21
# Host-graph PageRank quality weighting — the CommonCrawl-style source
# signal (host-level centrality as a document quality prior; cf. the
# public harmonic-centrality host rankings used to weight crawls).  Two
# unrolled iterations, damping 0.85, over the host link graph derived
# from t12's injected URLs (primary host links to secondary host).
#
# Float discipline taken to its limit: there are NO floats.  Ranks are
# integer nano-units (1e9 = mass 1); every contribution is BIGINT
# `r * w div out_w`; the damping update is `(15*base) div 100 +
# (85*inflow) div 100`.  Integer arithmetic is associative and
# engine-identical, so every iteration is value-hash-pinned exactly.
# Dangling-mass redistribution is omitted (every injected host has
# out-links; documented simplification).


def _t21_hosts_spark():
    arr = ", ".join(f"'{d}'" for d in _T12_DOMAINS)
    return (
        f"element_at(array({arr}), CAST(doc_id % 7 AS INT) + 1)",
        f"CASE WHEN doc_id % 4 = 0 THEN element_at(array({arr}),"
        f" CAST((doc_id + 3) % 7 AS INT) + 1) END",
    )


def _t21_hosts_sql():
    arr = ", ".join(f"'{d}'" for d in _T12_DOMAINS)
    return (
        f"([{arr}])[CAST(doc_id % 7 AS INTEGER) + 1]",
        f"CASE WHEN doc_id % 4 = 0 THEN"
        f" ([{arr}])[CAST((doc_id + 3) % 7 AS INTEGER) + 1] END",
    )


_T21_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_t21_hosts_sql()[0]} AS host, {_t21_hosts_sql()[1]} AS sec
  FROM documents
),
links AS (
  SELECT host AS u, sec AS v, CAST(count(*) AS BIGINT) AS w
  FROM d WHERE sec IS NOT NULL GROUP BY host, sec
),
outw AS (SELECT u, CAST(sum(w) AS BIGINT) AS ow FROM links GROUP BY u),
hosts AS (SELECT DISTINCT host FROM d),
nb AS (SELECT CAST(1000000000 // count(*) AS BIGINT) AS base FROM hosts),
r0 AS (SELECT host, base AS r FROM hosts, nb),
in1 AS (
  SELECT l.v AS host, CAST(sum((r0.r * l.w) // o.ow) AS BIGINT) AS inflow
  FROM links l JOIN r0 ON r0.host = l.u JOIN outw o ON o.u = l.u
  GROUP BY l.v
),
r1 AS (
  SELECT h.host,
         CAST((15 * nb.base) // 100
              + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS r
  FROM hosts h LEFT JOIN in1 i ON i.host = h.host, nb
),
in2 AS (
  SELECT l.v AS host, CAST(sum((r1.r * l.w) // o.ow) AS BIGINT) AS inflow
  FROM links l JOIN r1 ON r1.host = l.u JOIN outw o ON o.u = l.u
  GROUP BY l.v
),
r2 AS (
  SELECT h.host,
         CAST((15 * nb.base) // 100
              + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS r
  FROM hosts h LEFT JOIN in2 i ON i.host = h.host, nb
)
SELECT d.doc_id, d.host,
       CAST(COALESCE(o.ow, 0) AS BIGINT) AS host_outw,
       r1.r AS rank1_nano, r2.r AS rank2_nano
FROM d
JOIN r1 ON r1.host = d.host
JOIN r2 ON r2.host = d.host
LEFT JOIN outw o ON o.u = d.host
"""


@q("t21_host_rank", oracle=_T21_ORACLE)
def t21(spark, sf):
    """Host-graph PageRank (2 unrolled iterations, damping 0.85, exact
    integer nano-unit arithmetic) joined back onto each document as its
    source-quality prior.

    Scale shape: the link graph aggregates the corpus scan to HOST
    grain (web-scale: ~10^8 hosts vs 10^12 docs — map-side combined);
    every iteration is one host-grain join + agg on the tiny graph
    relation; the final step broadcasts the rank table back onto the
    corpus scan.  The corpus is read once and never shuffles.
    """
    he, se = _t21_hosts_spark()
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(he).alias("host"), F.expr(se).alias("sec")
    )
    links = (
        d.filter(F.col("sec").isNotNull())
        .groupBy(F.col("host").alias("u"), F.col("sec").alias("v"))
        .agg(F.count("*").alias("w"))
    )
    outw = links.groupBy("u").agg(F.sum("w").alias("ow"))
    hosts = d.select("host").distinct()
    nb = hosts.agg(
        F.expr("cast(1000000000 div count(*) as bigint)").alias("base")
    )

    def step(ranks):
        contrib = (
            links.join(ranks.withColumnRenamed("host", "u"), "u")
            .join(outw, "u")
            .select("v", F.expr("(r * w) div ow").alias("c"))
        )
        inflow = contrib.groupBy("v").agg(F.sum("c").alias("inflow"))
        return (
            hosts.join(inflow, hosts.host == inflow.v, "left")
            .crossJoin(F.broadcast(nb))
            .select(
                "host",
                F.expr(
                    "cast((15 * base) div 100"
                    " + (85 * coalesce(inflow, 0)) div 100 as bigint)"
                ).alias("r"),
            )
        )

    r0 = hosts.crossJoin(F.broadcast(nb)).select(
        "host", F.col("base").alias("r")
    )
    r1 = step(r0)
    r2 = step(r1)
    return (
        d.join(F.broadcast(r1.withColumnRenamed("r", "rank1_nano")), "host")
        .join(F.broadcast(r2.withColumnRenamed("r", "rank2_nano")), "host")
        .join(
            F.broadcast(outw.withColumnRenamed("u", "host")),
            "host",
            "left",
        )
        .select(
            "doc_id",
            "host",
            F.coalesce("ow", F.lit(0)).cast("long").alias("host_outw"),
            "rank1_nano",
            "rank2_nano",
        )
    )


# ------------------------------------------------------------- t22
# Character-entropy gibberish filter — the curation heuristic that
# rejects binary junk, key-mash, and single-char-flood documents (cf.
# the public C4/RefinedWeb-style "heuristic filtering" family): Shannon
# entropy of the per-character distribution, in nats per character.
#
# Float discipline (t14's trick): each distinct character's term
# -(r/n)*ln(r/n) freezes to an integer micro-nat BEFORE the per-doc
# sum, so the total is commutative integer math — identical across
# engines and aggregation orders; the keep verdict compares integers.
_T22_LO = 1_500_000  # < 1.5 nats/char: repeated-char flood
_T22_HI = 4_200_000  # > 4.2 nats/char: uniform noise / key-mash

# The synthetic corpus is all natural-ish text (2.55-2.94 nats/char at
# sf0.001), so the reject branch would be constant-false.  Like t10's
# PII decoration, every 53rd doc is deterministically REPLACED by a
# 4-symbol flood (ln 4 = 1.386 nats < LO) before scoring — documented
# synthetic injection so the verdict is exercised on every corpus, not
# data augmentation.
_T22_SRC = (
    "CASE WHEN doc_id % 53 = 0 THEN repeat('spam', 200) ELSE text END"
)

# one micro-nat term for a character occurring r times out of n
_T22_TERM = (
    "CAST(round((-(CAST({r} AS DOUBLE) / {n})"
    " * ln(CAST({r} AS DOUBLE) / {n})) * 1000000) AS BIGINT)"
)


def _t22_fold():
    """Single-pass run-length fold over the SORTED char array (the t09
    zero-shuffle pattern): each run close emits its frozen term."""
    # one term string for both the run-close inside the merge lambda
    # and the final-run close in the finish lambda — the final run is
    # scored identically by construction
    term = _T22_TERM.format(r="a.run", n="n_c")
    # split('', ...) not substr-per-index: substr(text, i, 1) re-scans
    # the string to char i, O(n^2) per doc (measured 2.2x slower at
    # sf0.1); split is one linear pass and agrees on multibyte chars
    return f"""aggregate(
      array_sort(split(text, '')),
      named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
                   'k', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT)),
      (a, x) -> IF(x <=> a.prev,
          named_struct('prev', x, 'run', a.run + 1, 'k', a.k, 'acc', a.acc),
          named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'k', a.k + 1,
                       'acc', a.acc + IF(a.prev IS NULL,
                                         CAST(0 AS BIGINT), {term}))),
      a -> named_struct('k', a.k,
                        'acc', a.acc + IF(a.prev IS NULL,
                                          CAST(0 AS BIGINT), {term})))"""


_T22_ORACLE = f"""
WITH src AS (SELECT doc_id, {_T22_SRC} AS text,
             length({_T22_SRC}) AS n FROM documents),
ch AS (
  SELECT doc_id, n,
         unnest(list_transform(generate_series(1, CAST(n AS INTEGER)),
                               i -> substr(text, i, 1))) AS c
  FROM src WHERE n > 0
),
runs AS (SELECT doc_id, c, count(*) AS r, min(n) AS n
         FROM ch GROUP BY doc_id, c),
g AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS k,
         CAST(sum({_T22_TERM.format(r="r", n="n")}) AS BIGINT) AS acc
  FROM runs GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(COALESCE(g.k, 0) AS BIGINT) AS n_distinct_chars,
       CAST(COALESCE(g.acc, 0) AS BIGINT) AS micro_entropy,
       (COALESCE(g.acc, 0) BETWEEN {_T22_LO} AND {_T22_HI}) AS entropy_keep
FROM src s LEFT JOIN g ON g.doc_id = s.doc_id
"""


@q("t22_char_entropy", oracle=_T22_ORACLE)
def t22(spark, sf):
    """Per-document character-entropy profile + gibberish keep verdict.

    Scale shape: shuffle-free compute — each doc's char multiset is
    run-length encoded in one pass over its own sorted char array (the
    t09 `aggregate` pattern, JVM-side HOF, no Python); the whole plan
    is a narrow map, linear in executors at 100 TB. The DuckDB twin uses the
    classic unnest -> GROUP BY formulation, so the two strategies
    cross-check each other. Empty docs short-circuit to (0, 0, false)
    without evaluating the fold. spread() fans the small test scan out
    of its single row-group (a no-op at production scale)."""
    d = spread(t(spark, sf, "documents")).select(
        "doc_id",
        F.expr(_T22_SRC).alias("text"),
    ).withColumn("n_c", F.length("text"))
    folded = d.select(
        "doc_id",
        F.when(
            F.col("n_c") > 0, F.expr(_t22_fold())
        ).otherwise(F.expr(
            "named_struct('k', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT))"
        )).alias("e"),
    )
    return folded.select(
        "doc_id",
        F.col("e.k").alias("n_distinct_chars"),
        F.col("e.acc").alias("micro_entropy"),
        F.col("e.acc").between(_T22_LO, _T22_HI).alias("entropy_keep"),
    )


# ------------------------------------------------------------- t23
# Inverted-index build — the search-index construction job (Lucene /
# Elasticsearch segment shape, done as a batch relational job): term ->
# document frequency, collection frequency, integer micro-nat IDF, and
# an order-pinned digest of the full (doc_id, tf) posting list.  The
# digest pins every posting and its order without hauling unbounded
# arrays through the comparator.
_T23_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY term, doc_id),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       CAST(round(ln(n.n_docs / count(*)) * 1000000) AS BIGINT)
         AS idf_micro,
       md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id))
         AS postings_digest
FROM tf, n
GROUP BY term, n.n_docs
"""


@q("t23_inverted_index", oracle=_T23_ORACLE)
def t23(spark, sf):
    """Inverted-index build: term -> (df, cf, idf_micro, order-pinned
    posting-list digest).

    Scale shape: tokenize-explode (narrow) -> ONE (term, doc) shuffle
    with map-side partial counts -> ONE term-grain shuffle assembling
    the posting list.  Skew note: stopword terms own posting lists as
    long as the corpus — at production scale posting lists are
    BLOCK-SEGMENTED (a (term, doc_id div B) pre-aggregation bounds any
    single reduce group, then per-term segment concat), and df-capped
    terms drop out of the index entirely (d04's hot-shingle cap); the
    digest here covers the full list so the oracle pins every posting.
    idf freezes to integer micro-nats (t14 discipline)."""
    d = spread(t(spark, sf, "documents"))
    n_docs = float(d.count())
    tf = (
        d.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.round(F.log(F.lit(n_docs) / F.count("*")) * 1000000)
        .cast("long")
        .alias("idf_micro"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda s: F.concat_ws(":", s.doc_id, s.tf),
                ),
            )
        ).alias("postings_digest"),
    )


# ------------------------------------------------------------- t24
# Tokenizer ENCODE — the apply side of the t20 learn loop: a fixed BPE
# merge table (the tokenizer artifact every training run ships) encodes
# every document, reporting per-doc token statistics.  Production
# tokenization is exactly this shape: the merge table is a broadcast
# constant and encoding is scan-local, so the job is a narrow map that
# never shuffles — tokenizing 100 TB costs one pass at scan speed.
#
# The merge table is applied IN ORDER as two-pass non-overlapping
# replaces on the space-joined symbol stream — the SAME algorithm the
# DuckDB twin runs, so the gate matches by construction.  This is
# equivalent to the true left-to-right fold (t20's `_t20_fold`) unless
# a word holds 5+ consecutive copies of one merged symbol (the t20
# parity note); the unit test pins the output against a pure-Python
# fold-based BPE reference including self-adjacent stress words.  The
# replace form is ~10x faster than 12 chained `aggregate` folds
# (measured 0.34 s vs 3.4 s at sf0.1): `replace` is a codegen'd native
# string op while higher-order folds run on the interpreted expression
# path.  Words are the [a-z]+ stream with the '_' end-of-word sentinel;
# no merge starts with a '_'-final symbol, so whole-document replace
# never crosses a word boundary.
_T24_MERGES = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("o", "f"),
    ("the", "_"),
    ("and", "_"),
    ("s", "_"),
)


def _t24_encode_expr() -> str:
    """Two-pass-replace BPE over the doc's space-joined symbol stream
    (column `text` -> final space-joined token string, sentinel-framed).

    Mirrors `_t24_sql_str` exactly — one `replace` pair per merge in
    table order, applied to the whole document at once (the '_'
    sentinel fences word boundaries)."""
    s = (
        "concat(' ', array_join(transform("
        "regexp_extract_all(lower(text), '[a-z]+', 0), "
        "w -> concat(array_join(transform(sequence(1, length(w)), "
        "i -> substring(w, i, 1)), ' '), ' _')), ' '), ' ')"
    )
    for a, b in _T24_MERGES:
        for _ in range(2):  # two non-overlapping passes per merge
            s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return s


def _t24_sql_str() -> str:
    """DuckDB: the doc's space-joined symbol string after every merge."""
    s = (
        "' ' || array_to_string(list_transform("
        "regexp_extract_all(lower(text), '[a-z]+'), "
        "w -> array_to_string(list_transform("
        "generate_series(1, length(w)), i -> w[i]), ' ') || ' _'), "
        "' ') || ' '"
    )
    for a, b in _T24_MERGES:
        for _ in range(2):  # two non-overlapping passes per merge
            s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return s


_T24_ORACLE = f"""
WITH enc AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
         length(array_to_string(
           regexp_extract_all(lower(text), '[a-z]+'), '')) AS n_chars,
         CASE WHEN trim({_t24_sql_str()}) = '' THEN []
              ELSE string_split(trim({_t24_sql_str()}), ' ') END AS toks
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tok
FROM enc
"""


@q("t24_bpe_encode", oracle=_T24_ORACLE)
def t24(spark, sf):
    """Encode every document with the fixed {n}-entry BPE merge table:
    per-doc (n_words, n_chars, n_tokens, n_distinct_tok).

    Scale shape: ZERO Exchange — the merge table folds into the
    expression tree (the broadcast-constant tokenizer artifact) and
    encoding is a per-doc chain of codegen'd native string replaces,
    JVM-side, linear in executors at 100 TB.  The vocabulary-grain
    variant (encode DISTINCT words once, join counts back — t20's
    sufficient-statistic trick) trades two shuffles for amortized
    encode work; scan-local wins whenever the encode kernel is cheaper
    than a corpus shuffle, which a 12-merge table always is.  spread()
    fans the small test scan out (no-op at production scale)."""
    d = spread(t(spark, sf, "documents")).select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias(
            "words"
        ),
        F.expr(f"trim({_t24_encode_expr()})").alias("enc"),
    )
    enc = d.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.length(F.array_join("words", "")).cast("long").alias("n_chars"),
        F.expr(
            "CASE WHEN enc = '' THEN CAST(array() AS ARRAY<STRING>) "
            "ELSE split(enc, ' ') END"
        ).alias("toks"),
    )
    return enc.select(
        "doc_id",
        "n_words",
        "n_chars",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias(
            "n_distinct_tok"
        ),
    )


t24.__doc__ = t24.__doc__.format(n=len(_T24_MERGES))


# ------------------------------------------------------------- t25
# Readability scoring — the classic Flesch-Kincaid grade level (public
# formula: 0.39*words/sentences + 11.8*syllables/words - 15.59), the
# third member of the standard quality-scorer trio (t02 heuristics,
# t14 LM perplexity, FK readability).  Syllables are approximated as
# vowel groups ([aeiouy]+) with a 1-per-word floor — the standard
# cheap estimator.
#
# Scale shape: ZERO Exchange — every count is a scan-local regex/HOF
# expression and the grade is a per-doc scalar; the whole job is a
# narrow map at scan speed.  The grade freezes to integer micro units
# per doc (t14 discipline — no aggregation ever touches the double).
_T25_BAND = (5_000_000, 12_000_000)  # readable: grade 5..12


def _t25_exprs(engine: str) -> dict[str, str]:
    if engine == "spark":
        words = "regexp_extract_all(lower(text), '[a-z]+', 0)"
        vg = "size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
        novowel = (
            f"size(filter({words}, w -> w NOT RLIKE '[aeiouy]'))"
        )
        sents = "size(regexp_extract_all(text, '[.!?]+', 0))"
    else:
        words = "regexp_extract_all(lower(text), '[a-z]+')"
        vg = "len(regexp_extract_all(lower(text), '[aeiouy]+'))"
        novowel = (
            f"len(list_filter({words},"
            " w -> NOT regexp_matches(w, '[aeiouy]')))"
        )
        sents = "len(regexp_extract_all(text, '[.!?]+'))"
    n = "size" if engine == "spark" else "len"
    return {
        "n_words": f"{n}({words})",
        "n_sents": f"greatest(1, {sents})",
        "n_syll": f"{vg} + {novowel}",
    }


# the n_words denominator is floored to 1 so the expression is total
# (ANSI Spark evaluates both sides of AND/when branches); the n_words=0
# case is still pinned to (0, false) by the outer gates
_T25_FK = (
    "CAST(round((0.39 * (CAST(n_words AS DOUBLE) / n_sents)"
    " + 11.8 * (CAST(n_syll AS DOUBLE) / greatest(n_words, 1))"
    " - 15.59) * 1000000) AS BIGINT)"
)

_T25_SQL = _t25_exprs("duckdb")
_T25_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST({_T25_SQL["n_words"]} AS BIGINT) AS n_words,
         CAST({_T25_SQL["n_sents"]} AS BIGINT) AS n_sents,
         CAST({_T25_SQL["n_syll"]} AS BIGINT) AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll,
       CASE WHEN n_words = 0 THEN 0 ELSE {_T25_FK} END AS fk_micro,
       (n_words > 0 AND {_T25_FK} BETWEEN {_T25_BAND[0]}
          AND {_T25_BAND[1]}) AS readable
FROM c
"""


@q("t25_readability", oracle=_T25_ORACLE)
def t25(spark, sf):
    """Flesch-Kincaid readability per document: word/sentence/syllable
    counts, the grade in integer micro units, and the grade-5..12
    readable band (the corpus-filter form).

    Scale shape: ZERO Exchange — scan-local regex + HOF counts and a
    per-doc scalar grade; linear in executors at any corpus size.
    spread() fans the small test scan out (no-op at scale)."""
    ex = _t25_exprs("spark")
    c = spread(t(spark, sf, "documents")).select(
        "doc_id",
        F.expr(ex["n_words"]).cast("long").alias("n_words"),
        F.expr(ex["n_sents"]).cast("long").alias("n_sents"),
        F.expr(ex["n_syll"]).cast("long").alias("n_syll"),
    )
    fk = F.expr(_T25_FK)
    return c.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.when(F.col("n_words") == 0, F.lit(0).cast("long"))
        .otherwise(fk)
        .alias("fk_micro"),
        (
            (F.col("n_words") > 0)
            & fk.between(_T25_BAND[0], _T25_BAND[1])
        ).alias("readable"),
    )


# ------------------------------------------------------------- t26
# Quality-classifier TRAINING — distill the rule-based keep filter
# (t02/t11-style heuristics) into a balanced logistic-regression
# classifier, the standard web-corpus curation move (cf. CCNet /
# GPT-3's quality classifier, public): bootstrap labels from a cheap
# rule, train a linear model on scan-local features, then score every
# document with the learned weights.  Two full-batch gradient-descent
# epochs (inverse-class-frequency weighted — the labels are ~9:1
# imbalanced, so unweighted GD collapses to the majority predictor)
# are unrolled with EXACT cross-engine verification.
#
# Float discipline (s08's "every float pinned" + t14's micro-freeze):
# features, class weights, and model weights live as integer micro
# units (BIGINT); gradients are exact BIGINT sums of integer products
# (associative, partitioning-independent — no float ever enters an
# aggregation).  The only doubles are (a) the per-doc sigmoid, whose
# argument is an exact integer dot product divided by the same literal
# on both engines and whose output freezes to micro units immediately
# (the t14 ln precedent: a last-ulp libm divergence would need to land
# within ~1e-10 of a rounding boundary to flip a value); (b) the
# weighted error e = floor((p - y) * wt / 1e6) — the operand is an
# exact integer product < 2^53, so the double division and floor are
# bit-identical on both engines (floor, not integer division: Spark's
# `div` truncates toward zero while DuckDB's `//` floors, and e can be
# negative); and (c) the weight-update round, whose operands are
# identical integers.  Epoch 1 is exp-free by construction: w0 = 0
# makes sigma(z) exactly 0.5 for every doc.
#
# Overflow headroom: |e| <= 0.5 * wt <= ~n/(4*min_class) micro; the
# gradient sum is bounded by ~n * 1e3(micro wt mass) * 1e6(x) * 1e6 /
# 1e6 = n * 1e9, safe in BIGINT to ~1e9 docs; past that the partial
# sums move to DECIMAL (the s03 discipline).
_T26_LR = "8.0"
_T26_FEATS = ("xs", "xd", "xu", "xl")  # non-bias raw features
_T26_DIMS = ("b", "s", "d", "u", "l")  # weight suffixes (bias first)
_T26_ZINT = "wb*xb + ws*cs + wd*cd + wu*cu + wl*cl"


def _t26_sigmoid(expr_zint: str) -> str:
    """micro-frozen sigmoid of an exact integer dot product (micro^2
    scale): identical literal chain on both engines."""
    return (
        f"CAST(round(1000000.0 / (1.0 + exp(-(CAST({expr_zint} AS DOUBLE)"
        " / 1000000000000.0)))) AS BIGINT)"
    )


def _t26_err(p_expr: str) -> str:
    """Class-weighted prediction error in micro units: exact-double
    floor (see module comment for why floor, not div/``//``)."""
    return (
        f"CAST(floor(({p_expr} - y) * wt / 1000000.0) AS BIGINT)"
    )


_T26_CENT = ("xb", "cs", "cd", "cu", "cl")  # model inputs (bias + centered)


def _t26_grad_sql(p_expr: str) -> str:
    e = _t26_err(p_expr)
    return ",\n         ".join(
        [f"count(*) AS n"]
        + [
            f"CAST(sum({e} * {c}) AS BIGINT) AS g_{d}"
            for d, c in zip(_T26_DIMS, _T26_CENT)
        ]
    )


def _t26_upd_sql(prev_fmt: str) -> str:
    return ",\n         ".join(
        f"{prev_fmt.format(w='w' + d)} - CAST(round({_T26_LR} * g_{d}"
        f" / (n * 1000000.0)) AS BIGINT) AS w{d}"
        for d in _T26_DIMS
    )


def _t26_oracle() -> str:
    return f"""
WITH f0 AS (
  SELECT doc_id, length(text) AS n_chars, {SQL_TOKENS} AS toks,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents
),
f1 AS (
  SELECT doc_id,
         (len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x)))
            * 1000000) // greatest(len(toks), 1) AS xs,
         (n_digit * 1000000) // greatest(n_chars, 1) AS xd,
         (len(list_distinct(toks)) * 1000000)
            // greatest(len(toks), 1) AS xu,
         least(len(toks), 1000) * 1000 AS xl,
         len(toks) AS n_tokens
  FROM f0
),
f AS (
  SELECT doc_id, xs, xd, xu, xl,
         CASE WHEN n_tokens >= 20 AND xu >= 200000 AND xd <= 200000
              THEN CAST(1000000 AS BIGINT) ELSE 0 END AS y
  FROM f1
),
st AS (
  SELECT count(*) AS n,
         CAST(sum(y // 1000000) AS BIGINT) AS n_pos,
         CAST(sum(xs) AS BIGINT) // count(*) AS m_s,
         CAST(sum(xd) AS BIGINT) // count(*) AS m_d,
         CAST(sum(xu) AS BIGINT) // count(*) AS m_u,
         CAST(sum(xl) AS BIGINT) // count(*) AS m_l
  FROM f
),
fc AS (
  SELECT f.doc_id, f.xs, f.xd, f.xu, f.xl, f.y,
         CAST(1000000 AS BIGINT) AS xb,
         f.xs - st.m_s AS cs, f.xd - st.m_d AS cd,
         f.xu - st.m_u AS cu, f.xl - st.m_l AS cl,
         CASE WHEN f.y = 1000000
              THEN (st.n * 1000000) // (2 * greatest(st.n_pos, 1))
              ELSE (st.n * 1000000)
                     // (2 * greatest(st.n - st.n_pos, 1)) END AS wt
  FROM f, st
),
g1 AS (SELECT {_t26_grad_sql("500000")} FROM fc),
w1 AS (SELECT {_t26_upd_sql("0")} FROM g1),
p2 AS (
  SELECT fc.*, {_t26_sigmoid(_T26_ZINT)} AS p
  FROM fc, w1
),
g2 AS (SELECT {_t26_grad_sql("p")} FROM p2),
w2 AS (SELECT {_t26_upd_sql("w1.{w}")} FROM w1, g2)
SELECT fc.doc_id,
       CAST(fc.y // 1000000 AS INTEGER) AS y_label,
       fc.xs AS x_stop_micro, fc.xd AS x_digit_micro,
       fc.xu AS x_uniq_micro, fc.xl AS x_len_micro,
       {_t26_sigmoid(_T26_ZINT)} AS score_micro,
       ({_t26_sigmoid(_T26_ZINT)} >= 500000) AS pred_keep,
       w2.wb AS w_bias, w2.ws AS w_stop, w2.wd AS w_digit,
       w2.wu AS w_uniq, w2.wl AS w_len
FROM fc, w2
"""


def _t26_feats(spark, sf):
    """Scan-local micro-frozen raw features + bootstrap label, one row
    per doc (6 BIGINTs — the narrow relation a production run
    materializes once so training epochs never re-tokenize)."""
    d = spread(t(spark, sf, "documents")).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        _tokens().alias("toks"),
        F.length(F.regexp_replace("text", r"[^0-9]", "")).alias("n_digit"),
    )
    f1 = d.select(
        "doc_id",
        F.expr(
            f"(size(filter(toks, x -> array_contains({_STOPWORDS_ARR}, x)))"
            " * 1000000L) div greatest(size(toks), 1)"
        ).alias("xs"),
        F.expr("(n_digit * 1000000L) div greatest(n_chars, 1)").alias("xd"),
        F.expr(
            "(size(array_distinct(toks)) * 1000000L)"
            " div greatest(size(toks), 1)"
        ).alias("xu"),
        F.expr("least(size(toks), 1000) * 1000L").alias("xl"),
        F.size("toks").alias("n_tokens"),
    )
    return f1.select(
        "doc_id",
        *_T26_FEATS,
        F.expr(
            "CASE WHEN n_tokens >= 20 AND xu >= 200000 AND xd <= 200000"
            " THEN 1000000L ELSE 0L END"
        ).alias("y"),
    )


def _t26_center(f):
    """Raw features -> centered model inputs + per-doc class weight:
    ONE stats aggregation (n, n_pos, feature means — all exact BIGINT
    floor means, `div` is safe because raw features are non-negative)
    broadcast back onto the scan."""
    st = f.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("y div 1000000L")).alias("n_pos"),
        *[
            F.expr(f"sum({x}) div count(*)").alias(f"m_{x[1]}")
            for x in _T26_FEATS
        ],
    )
    return f.crossJoin(F.broadcast(st)).select(
        "doc_id",
        *_T26_FEATS,
        "y",
        F.lit(1000000).cast("long").alias("xb"),
        *[
            F.expr(f"{x} - m_{x[1]}").alias(f"c{x[1]}")
            for x in _T26_FEATS
        ],
        F.expr(
            "CASE WHEN y = 1000000"
            " THEN (n * 1000000L) div (2 * greatest(n_pos, 1))"
            " ELSE (n * 1000000L)"
            "   div (2 * greatest(n - n_pos, 1)) END"
        ).alias("wt"),
    )


def _t26_grad(fdf, p_expr: str):
    """ONE gradient aggregation: exact BIGINT sums of weighted-error x
    centered-feature products with map-side partials — the
    distributed-GD allreduce step."""
    e = _t26_err(p_expr)
    return fdf.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.expr(f"{e} * {c}")).alias(f"g_{d}")
            for d, c in zip(_T26_DIMS, _T26_CENT)
        ],
    )


def _t26_step(gdf, wprev=None):
    """grads row (+ previous weights row) -> new one-row weights
    relation, identical integer/round chain to the oracle's upd."""
    base = gdf if wprev is None else gdf.crossJoin(F.broadcast(wprev))
    return base.select(
        *[
            F.expr(
                f"{'w' + d if wprev is not None else '0L'}"
                f" - CAST(round({_T26_LR} * g_{d}"
                f" / (n * 1000000.0)) AS BIGINT)"
            ).alias(f"w{d}")
            for d in _T26_DIMS
        ]
    )


@q("t26_quality_classifier", oracle=_t26_oracle())
def t26(spark, sf):
    """Train a balanced logistic-regression quality classifier on
    rule-bootstrap labels (two unrolled full-batch weighted-GD epochs,
    LR={lr}), then score every document: per-doc micro-frozen features,
    the bootstrap label, the learned score, the keep prediction, and
    the trained weights (constant columns — pinning the whole training
    trajectory in the value hash).

    Scale shape: the canonical distributed-GD loop. Features are ONE
    narrow scan-local pass (persisted — the relation a production run
    materializes once so epochs never re-tokenize); the stats pass and
    each epoch are ONE aggregation to a single row with map-side
    integer partials (the allreduce); stats and weights return as
    broadcast one-row crossJoins, so the document table never shuffles
    at all. Linear in executors at 100 TB; epochs are unrolled here
    exactly like s08's Lloyd iterations, and a production loop
    re-broadcasts per epoch with localCheckpoint lineage truncation
    (the x05 pattern).

    Math: features are mean-centered (the stats pass) and gradient
    contributions are inverse-class-frequency weighted — without both,
    full-batch GD on the ~9:1-imbalanced bootstrap labels collapses to
    the all-positive majority predictor; with them the 2-epoch model
    reaches ~0.92 balanced accuracy on the synthetic corpus. Float
    discipline: see the module comment — integer features/weights,
    exact BIGINT gradient sums, epoch 1 exp-free (sigma(0) = 0.5
    exactly), every sigmoid output frozen to micro units before
    anything downstream reads it."""
    fc = _t26_center(_t26_feats(spark, sf)).persist()
    w1 = _t26_step(_t26_grad(fc, "500000L"))
    p2 = fc.crossJoin(F.broadcast(w1)).withColumn(
        "p", F.expr(_t26_sigmoid(_T26_ZINT))
    )
    w2 = _t26_step(
        _t26_grad(p2, "p"),
        w1.select(*[F.col(f"w{d}") for d in _T26_DIMS]),
    )
    scored = fc.crossJoin(F.broadcast(w2))
    return scored.select(
        "doc_id",
        F.expr("CAST(y div 1000000L AS INT)").alias("y_label"),
        F.col("xs").alias("x_stop_micro"),
        F.col("xd").alias("x_digit_micro"),
        F.col("xu").alias("x_uniq_micro"),
        F.col("xl").alias("x_len_micro"),
        F.expr(_t26_sigmoid(_T26_ZINT)).alias("score_micro"),
        F.expr(f"{_t26_sigmoid(_T26_ZINT)} >= 500000").alias("pred_keep"),
        F.col("wb").alias("w_bias"),
        F.col("ws").alias("w_stop"),
        F.col("wd").alias("w_digit"),
        F.col("wu").alias("w_uniq"),
        F.col("wl").alias("w_len"),
    )


t26.__doc__ = t26.__doc__.format(lr=_T26_LR)


# ------------------------------------------------------------- t27
# Encoding-artifact (mojibake) detection & repair — the classic
# UTF-8-decoded-as-Windows-1252 damage every web crawl carries (cf.
# the public ftfy fix table): 'Ã©' for 'é', 'â€™' for a curly
# apostrophe, 'Â«' for a guillemet, and so on.  The confusion table is
# COMPUTED, not hand-typed: for each intended character, the mojibake
# form is its UTF-8 bytes re-decoded as cp1252 — exactly the damage
# process, so the table cannot drift from the spec.  Repair is the
# fixed table applied as chained literal replaces; detection counts
# each artifact kind on the ORIGINAL text (kinds are prefix-grouped
# but pairwise non-overlapping, so counts are order-independent).
#
# The synthetic corpus is clean, so docs are decorated
# deterministically (the t10 pattern — documented synthetic injection,
# identical on both engines): doc_id % 3 == 1 gets accent-class
# artifacts, % 3 == 2 gets punctuation-class artifacts, % 3 == 0 stays
# clean so the clean flag is exercised on every third row.
_T27_CHARS = ("é", "ï", "ü", "ñ", "’", "“", "–", "«", "»")
_T27_FIXES = tuple(
    (c.encode("utf-8").decode("cp1252"), c) for c in _T27_CHARS
)
_T27_TAIL_A = " café naïve résumé señor münchen".encode("utf-8").decode(
    "cp1252"
)
_T27_TAIL_B = (
    " “quote–dash’s «guillemets»".encode("utf-8").decode(
        "cp1252"
    )
)


def _t27_sqlq(s: str) -> str:
    return s.replace("'", "''")


def _t27_decor() -> str:
    return (
        "text || CASE CAST(doc_id % 3 AS INTEGER)"
        f" WHEN 1 THEN '{_t27_sqlq(_T27_TAIL_A)}'"
        f" WHEN 2 THEN '{_t27_sqlq(_T27_TAIL_B)}'"
        " ELSE '' END"
    )


def _t27_repair(col: str) -> str:
    e = col
    for bad, good in _T27_FIXES:
        e = f"replace({e}, '{_t27_sqlq(bad)}', '{_t27_sqlq(good)}')"
    return e


def _t27_counts(engine: str) -> tuple[str, str]:
    """(n_mojibake, n_kinds) count expressions over decorated col d."""
    if engine == "spark":
        ks = [f"regexp_count(d, '{_t27_sqlq(b)}')" for b, _ in _T27_FIXES]
    else:
        ks = [
            f"len(regexp_extract_all(d, '{_t27_sqlq(b)}'))"
            for b, _ in _T27_FIXES
        ]
    total = " + ".join(ks)
    kinds = " + ".join(f"CASE WHEN {k} > 0 THEN 1 ELSE 0 END" for k in ks)
    return total, kinds


_T27_DUCK_TOTAL, _T27_DUCK_KINDS = _t27_counts("duckdb")
_T27_ORACLE = f"""
WITH dec AS (SELECT doc_id, {_t27_decor()} AS d FROM documents)
SELECT doc_id,
       CAST({_T27_DUCK_TOTAL} AS INTEGER) AS n_mojibake,
       CAST({_T27_DUCK_KINDS} AS INTEGER) AS n_kinds,
       ({_T27_DUCK_TOTAL} = 0) AS clean,
       {_t27_repair("d")} AS repaired
FROM dec
"""


@q("t27_mojibake_repair", oracle=_T27_ORACLE)
def t27(spark, sf):
    """Detect and repair encoding artifacts (UTF-8 read as
    Windows-1252 mojibake) with a fixed {n}-entry computed confusion
    table: per-doc artifact count, distinct-kind count, a clean flag,
    and the repaired text.

    Scale shape: ZERO Exchange — a narrow scan-local map (literal
    regexp_count detection + a chained native replace repair, all
    JVM-side in WholeStageCodegen); linear in executors at 100 TB and
    the repaired column is the same width class as the input.  The
    fix table is prefix-grouped but pairwise non-overlapping, so both
    the counts and the replace chain are order-independent."""
    total, kinds = _t27_counts("spark")
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(_t27_decor()).alias("d")
    )
    return d.select(
        "doc_id",
        F.expr(total).cast("int").alias("n_mojibake"),
        F.expr(kinds).cast("int").alias("n_kinds"),
        F.expr(f"({total}) = 0").alias("clean"),
        F.expr(_t27_repair("d")).alias("repaired"),
    )


t27.__doc__ = t27.__doc__.format(n=len(_T27_FIXES))


# ---------------------------------------------------------------- t28
# PMI collocation mining (corpus-grain).  Classic phrase/term mining
# for tokenizer vocab seeding and quality analysis (Church & Hanks
# 1990, public).  PMI = log(p(x,y) / (p(x)p(y))) is monotone in the
# integer ratio c_xy * N / (c_x * c_y), so the score is carried as an
# EXACT milli-unit integer (ratio * 1000, truncating division) and the
# log never has to be evaluated -- ranking and thresholding on the
# milli score are identical to ranking on PMI, and the value is
# bit-equal across engines (no float in the pipeline).
_T28_MIN_C = 5  # bigram support floor (rare-pair PMI is noise)
_T28_KEEP_MILLI = 2_000  # ratio > 2.0 => flagged collocation

_T28_ORACLE = f"""
WITH toks AS (SELECT {SQL_TOKENS} AS toks FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM toks WHERE len(toks) >= 2
),
bc AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         count(*) AS c_xy
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= {_T28_MIN_C}
),
uni AS (
  SELECT tok AS w, count(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1
),
tot AS (SELECT sum(c)::HUGEINT AS n FROM uni)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
       CAST(u1.c AS BIGINT) AS c_x, CAST(u2.c AS BIGINT) AS c_y,
       CAST((1000 * c_xy * n) // (u1.c * u2.c) AS BIGINT) AS pmi_milli,
       ((1000 * c_xy * n) // (u1.c * u2.c)) >= {_T28_KEEP_MILLI}
         AS is_collocation
FROM bc
JOIN uni u1 ON u1.w = bc.w1
JOIN uni u2 ON u2.w = bc.w2, tot
"""


@q("t28_pmi_collocations", oracle=_T28_ORACLE)
def t28(spark, sf):
    """PMI collocation mining: adjacent-token bigrams with support >=
    {min_c}, scored by the exact milli-unit association ratio
    c_xy * N / (c_x * c_y) (monotone in PMI; see block comment) and
    flagged as collocations above ratio {keep}.

    Scale shape (100 TB): two partial-aggregated Exchanges -- bigram
    counts keyed (w1, w2) and unigram counts keyed w -- both
    vocabulary-sized after the map-side combine (Heaps'-law sublinear
    in corpus size), then two equi-joins of the bigram relation
    against the unigram relation (AQE broadcasts the dictionary-sized
    build side at runtime) and a single-row broadcast cross join for
    the corpus total.  The milli score multiplies through DECIMAL(38)
    so c_xy * N never overflows at any corpus size; the truncating
    `div` matches DuckDB's `//` exactly on non-negative operands."""
    toks = t(spark, sf, "documents").select(_tokens().alias("toks"))
    bc = (
        toks.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= _T28_MIN_C)
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
    milli = "(CAST(1000 AS DECIMAL(38,0)) * c_xy * n) div (c_x * c_y)"
    return (
        bc.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")),
                "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")),
              "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            F.expr(milli).cast("long").alias("pmi_milli"),
            (F.expr(milli) >= _T28_KEEP_MILLI).alias("is_collocation"),
        )
    )


t28.__doc__ = t28.__doc__.format(min_c=_T28_MIN_C, keep=_T28_KEEP_MILLI / 1000)


# ---------------------------------------------------------------- t29
# Duplicate-shingle novelty — the RefinedWeb/Dolma "duplicate n-gram
# fraction" quality signal (public): per document, the fraction of its
# distinct word-3-gram shingles that appear in NO other document.
# Low novelty = boilerplate/template text that exact- and near-dedup
# both miss (the doc as a whole is unique, its content is not).
from .dedup import SQL_DOC_SHINGLES, _doc_shingles  # noqa: E402

_T29_BOILER_PPM = 200_000  # < 20% novel shingles => boilerplate

_T29_ORACLE = f"""
WITH doc_sh AS ({SQL_DOC_SHINGLES}),
df AS (SELECT sh, count(*) AS df FROM doc_sh GROUP BY sh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       (sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // count(*)
         AS novelty_ppm,
       ((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // count(*))
         < {_T29_BOILER_PPM} AS boilerplate
FROM doc_sh JOIN df USING (sh)
GROUP BY doc_id
"""


@q("t29_shingle_novelty", oracle=_T29_ORACLE)
def t29(spark, sf):
    """Duplicate-shingle novelty score: per document the count of
    distinct word-3-gram shingles, how many are corpus-unique
    (document frequency 1), the exact ppm novelty ratio, and a
    boilerplate verdict below {thr}% novelty.  Grain = documents with
    at least one shingle (>= 3 tokens).

    Scale shape (100 TB): the exploded distinct (doc_id, shingle)
    relation is persisted and feeds both branches (d02/d04's pattern —
    a production run materializes it once for the whole dedup+quality
    pass); document frequency is ONE partial-aggregated Exchange on
    the shingle, the join back is shingle-keyed (no all-pairs
    anywhere), and the per-doc rollup is ONE Exchange on doc_id.
    Integer ppm via truncating div matches DuckDB `//` exactly."""
    doc_sh = _doc_shingles(spark, sf).drop("lang").persist()
    df = doc_sh.groupBy("sh").agg(F.count("*").alias("df"))
    novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        doc_sh.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_novel").cast("long").alias("n_novel"),
            F.expr("(n_novel * 1000000L) div n_shingles").alias(
                "novelty_ppm"
            ),
            (
                F.expr("(n_novel * 1000000L) div n_shingles")
                < _T29_BOILER_PPM
            ).alias("boilerplate"),
        )
    )


t29.__doc__ = t29.__doc__.format(thr=_T29_BOILER_PPM // 10_000)


# ---------------------------------------------------------------- t30
# DSIR importance weighting (public: Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): hashed-bigram bag
# features, a target distribution estimated from an in-corpus target
# slice (here lang='en', the majority slice) and a raw distribution
# from the whole corpus, per-bucket log-ratio weights, and per-doc
# log importance weight = sum of its bigrams' bucket weights.  The
# log-ratio freezes to integer MICRO-nats per bucket (t14's pattern:
# round(ln(.)*1e6) on identically-constructed doubles) BEFORE the
# per-doc sum, so the doc-grain aggregation is exact integer math in
# both engines.
_T30_B = 1024  # hashed feature buckets (DSIR uses 10^4; small corpus)

_T30_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, {SQL_TOKENS} AS tk FROM documents
),
bg AS (
  SELECT doc_id, lang,
         {sql_h32("tk[j - 1] || ' ' || tk[j]")} % {_T30_B} AS b
  FROM tok, unnest(generate_series(2, len(tk))) AS u(j)
),
cnt AS (
  SELECT b,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_t,
         CAST(count(*) AS BIGINT) AS n_r
  FROM bg GROUP BY b
),
tot AS (SELECT sum(n_t) AS tt, sum(n_r) AS tr FROM cnt),
w AS (
  SELECT b,
         CAST(round((ln((n_t + 1.0) / (tt + {_T30_B}.0))
                   - ln((n_r + 1.0) / (tr + {_T30_B}.0))) * 1000000)
              AS BIGINT) AS w_micro
  FROM cnt, tot
),
score AS (
  SELECT bg.doc_id,
         CAST(count(*) AS INTEGER) AS n_bigrams,
         CAST(sum(w.w_micro) AS BIGINT) AS log_iw_micro
  FROM bg JOIN w USING (b)
  GROUP BY bg.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS INTEGER) AS n_bigrams,
       CAST(COALESCE(s.log_iw_micro, 0) AS BIGINT) AS log_iw_micro,
       COALESCE(s.log_iw_micro, 0) > 0 AS dsir_keep
FROM documents d LEFT JOIN score s ON s.doc_id = d.doc_id
"""


@q("t30_dsir_weights", oracle=_T30_ORACLE)
def t30(spark, sf):
    """DSIR importance weights: hashed-bigram features, per-bucket
    target/raw log-ratio in integer micro-nats, per-doc log importance
    weight and the keep verdict (weight > 0, i.e. more target-like
    than raw).

    Scale shape: the bucket-count aggregate collapses the bigram
    stream to {b} rows with map-side partials (one tiny Exchange);
    the weight table is <= {b} rows — BROADCAST back onto the bigram
    stream, so scoring adds no shuffle of its own; the per-doc sum
    partial-aggregates map-side (a doc's bigrams are produced inside
    its input partition, so most rows collapse before the doc_id
    Exchange).  Two scans of the corpus total — at 100 TB you keep it
    that way rather than persisting a corpus-sized bigram stream."""
    toks = t(spark, sf, "documents").select(
        "doc_id", "lang", _tokens().alias("tk")
    )
    bg = toks.filter(F.size("tk") >= 2).select(
        "doc_id",
        "lang",
        F.explode(F.expr("sequence(2, size(tk))")).alias("j"),
        F.col("tk"),
    ).select(
        "doc_id",
        "lang",
        (
            _h32(
                F.concat(
                    F.expr("element_at(tk, j - 1)"),
                    F.lit(" "),
                    F.expr("element_at(tk, j)"),
                )
            )
            % _T30_B
        ).alias("b"),
    )
    cnt = bg.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.count("*").cast("long").alias("n_r"),
    )
    tot = cnt.agg(
        F.sum("n_t").alias("tt"), F.sum("n_r").alias("tr")
    )
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.log((F.col("n_t") + 1.0) / (F.col("tt") + float(_T30_B)))
                - F.log(
                    (F.col("n_r") + 1.0) / (F.col("tr") + float(_T30_B))
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("w_micro"),
    )
    score = (
        bg.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.sum("w_micro").cast("long").alias("log_iw_micro"),
        )
    )
    return (
        t(spark, sf, "documents")
        .select("doc_id")
        .join(score, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("int").alias(
                "n_bigrams"
            ),
            F.coalesce("log_iw_micro", F.lit(0)).cast("long").alias(
                "log_iw_micro"
            ),
            (F.coalesce("log_iw_micro", F.lit(0)) > 0).alias("dsir_keep"),
        )
    )


t30.__doc__ = t30.__doc__.format(b=_T30_B)


# ---------------------------------------------------------------- t31
# TextTiling topic segmentation (public: Hearst 1997): lexical
# cohesion at every candidate gap = the distinct-token overlap between
# the k tokens before and after the gap; a segment boundary is a local
# cohesion minimum at or below the absolute threshold.  The classic
# preprocessing pass for chunking long documents on topic shifts
# (versus t17's fixed-stride chunker).  All integer set math — no
# floats anywhere.
_T31_K = 8  # comparison window (tokens per side)
_T31_TH = 2  # boundary threshold: overlap <= TH distinct tokens

_T31_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
),
gaps AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) >= 2 * {_T31_K}
              THEN generate_series({_T31_K}, len(tk) - {_T31_K}, {_T31_K})
              ELSE [] END AS gs
  FROM tok
),
scored AS (
  SELECT doc_id, gs,
         list_transform(gs, g -> len(list_intersect(
           list_distinct(list_slice(tk, g - {_T31_K} + 1, g)),
           list_distinct(list_slice(tk, g + 1, g + {_T31_K}))))) AS sc
  FROM gaps
)
SELECT doc_id,
       CAST(u.i AS INTEGER) AS gap_idx,
       CAST(gs[u.i] AS INTEGER) AS gap_pos,
       CAST(sc[u.i] AS INTEGER) AS score,
       sc[u.i] <= {_T31_TH}
         AND (u.i = 1 OR sc[u.i] <= sc[u.i - 1])
         AND (u.i = len(sc) OR sc[u.i] <= sc[u.i + 1]) AS is_boundary
FROM scored, unnest(generate_series(1, len(gs))) AS u(i)
"""


@q("t31_texttiling", oracle=_T31_ORACLE)
def t31(spark, sf):
    """TextTiling topic segmentation: at every k-token gap the
    distinct-token overlap between the two flanking k-token windows;
    a boundary is a local minimum at or below the threshold.

    Scale shape: gap positions, both flanking windows, the overlap
    scores, and the local-minimum test are ALL computed with array
    higher-order functions inside the document row (the scores array
    is built once, then indexed for the neighbor comparisons) — the
    physical plan is scan -> project -> explode, ZERO shuffles, and
    only the text column is read."""
    k, th = _T31_K, _T31_TH
    tok = t(spark, sf, "documents").select(
        "doc_id", _tokens().alias("tk")
    )
    gaps = tok.select(
        "doc_id",
        "tk",
        F.expr(
            f"CASE WHEN size(tk) >= {2 * k}"
            f" THEN sequence({k}, size(tk) - {k}, {k})"
            f" ELSE array() END"
        ).alias("gs"),
    )
    scored = gaps.select(
        "doc_id",
        "gs",
        F.expr(
            f"transform(gs, g -> size(array_intersect("
            f" array_distinct(slice(tk, g - {k} + 1, {k})),"
            f" array_distinct(slice(tk, g + 1, {k})))))"
        ).alias("sc"),
    )
    # sequence(1, 0) DESCENDS in Spark, so guard the no-gap docs:
    # build 1..max(n,1) ascending and filter to <= n (empty when n=0).
    return scored.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(sequence(1, greatest(size(gs), 1)),"
                " x -> x <= size(gs))"
            )
        ).alias("i"),
        "gs",
        "sc",
    ).select(
        "doc_id",
        F.col("i").cast("int").alias("gap_idx"),
        F.expr("element_at(gs, i)").cast("int").alias("gap_pos"),
        F.expr("element_at(sc, i)").cast("int").alias("score"),
        F.expr(
            f"element_at(sc, i) <= {th}"
            " AND (i = 1 OR element_at(sc, i) <= element_at(sc, i - 1))"
            " AND (i = size(sc)"
            "      OR element_at(sc, i) <= element_at(sc, i + 1))"
        ).alias("is_boundary"),
    )


# ------------------------------------------------------------- t32
# Weighted corpus sampling (public: Efraimidis & Spirakis 2006,
# "Weighted random sampling with a reservoir", A-ES): draw a fixed-k
# sample with inclusion probability proportional to document weight —
# the token-budget subsample every mixture pipeline needs ("sample
# 10B tokens weighted by quality/length").  A-ES keys each row with
# u^(1/w) (u uniform from a hash, w the weight) and keeps the global
# top-k; ordering by u^(1/w) is ordering by ln(u)/w, and the key is
# frozen to integer micro (t14's pattern) BEFORE the top-k, so both
# engines compare identical integers (ln() may differ across libm
# implementations by 1 ulp ~ 1e-16 relative — six orders of magnitude
# below the micro quantum; micro-ties break by doc_id).
_T32_K = 100  # sample size


_T32_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST(floor(
           1000000 * ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 8))::BIGINT + 1) / 4294967296.0)
           / greatest(n_chars, 1)) AS BIGINT) AS key_micro
  FROM documents
),
rk AS (
  SELECT doc_id, n_chars, key_micro,
         row_number() OVER (ORDER BY key_micro DESC, doc_id)
           AS sample_rank
  FROM keyed
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, key_micro,
       CAST(sample_rank AS INTEGER) AS sample_rank
FROM rk WHERE sample_rank <= {_T32_K}
"""


@q("t32_weighted_sample", oracle=_T32_ORACLE)
def t32(spark, sf):
    """A-ES weighted sampling: a deterministic fixed-k sample with
    inclusion probability proportional to n_chars (the length /
    token-budget weight), via top-k over the micro-frozen A-ES key
    ln(u)/w with u = (md5(doc_id)[:8] + 1) / 2^32.

    Scale shape: the key is a scan-local expression (no shuffle to
    compute); the global top-k is the shared TWO-PHASE merge
    (base.two_phase_topk, Spark's takeOrdered shape): a
    spark_partition_id-partitioned window — sort-based and
    spillable, per-task memory bounded — keeps k rows per input
    partition, then ONE merge of partition-count-bounded partials;
    never a global row_number window (which would sort the whole
    corpus through one partition).  Which rows meet in phase 1
    depends on physical partitioning, but the merged top-k is a
    deterministic function of the data (ties break by
    (key_micro DESC, doc_id) in both phases), so any partitioning
    yields identical output.  Re-runs reproduce the same sample with
    no seed exchange — the hash IS the randomness, exactly like
    t08's stratified quota draw (this is its weighted sibling)."""
    from .base import two_phase_topk

    keyed = t(spark, sf, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.expr(
            "CAST(floor(1000000 * ln((CAST(conv(substring("
            "md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            " + 1) / 4294967296.0) / greatest(n_chars, 1)) AS BIGINT)"
        ).alias("key_micro"),
    )
    ranked = two_phase_topk(
        keyed,
        _T32_K,
        "key_micro",
        "doc_id",
        "sample_rank",
        extras=("weight", "key_micro"),
    )
    return ranked.select(
        "doc_id",
        "weight",
        "key_micro",
        F.col("sample_rank").cast("int").alias("sample_rank"),
    )


# ------------------------------------------------------------- t33
# Script-mixing / homoglyph profile (public: Unicode TR#39 confusable
# detection; the mixed-script spam filter every web-crawl pipeline
# runs).  The synthetic corpus is pure Latin prose, so — t10/t11's
# decoration pattern — the firing populations are injected
# DETERMINISTICALLY from doc_id with the SAME expression inlined into
# the Spark plan and the DuckDB twin:
#   doc_id % 11 == 0  ->  ' пример' appended   (pure-Cyrillic word:
#                         mixed script, NOT confusable)
#   doc_id % 13 == 0  ->  ' 例子' appended    (CJK run)
#   doc_id % 23 == 0  ->  ' exаmple' appended  (Cyrillic 'а' INSIDE
#                         a Latin word: the homoglyph spoof)
# Script counts use explicit code-point ranges (identical pattern
# strings in both engines — no engine-specific \p classes):
# Cyrillic U+0400-04FF, CJK U+4E00-9FFF, Greek U+0370-03FF; the
# confusable test matches a Latin letter ADJACENT to a Cyrillic one
# inside the same word.
_T33_DECOR_SQL = (
    "text"
    " || CASE WHEN doc_id % 11 = 0 THEN ' пример' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' 例子' ELSE '' END"
    " || CASE WHEN doc_id % 23 = 0 THEN ' exаmple' ELSE '' END"
)
_T33_PAT = {
    "n_latin": "[A-Za-z]",
    "n_cyr": "[\u0400-\u04FF]",
    "n_cjk": "[\u4E00-\u9FFF]",
    "n_greek": "[\u0370-\u03FF]",
}
_T33_CONF = "[A-Za-z][\u0400-\u04FF]|[\u0400-\u04FF][A-Za-z]"


_T33_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_T33_DECOR_SQL} AS text FROM documents
)
SELECT doc_id,
       {", ".join(
         f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT)"
         f" AS {c}" for c, p in _T33_PAT.items()
       )},
       CAST(len(regexp_extract_all(text, '{_T33_CONF}')) AS BIGINT)
         AS n_confusable,
       (len(regexp_extract_all(text, '{_T33_PAT["n_cyr"]}')) > 0
        OR len(regexp_extract_all(text, '{_T33_PAT["n_cjk"]}')) > 0
        OR len(regexp_extract_all(text, '{_T33_PAT["n_greek"]}')) > 0)
         AS mixed_script,
       (len(regexp_extract_all(text, '{_T33_CONF}')) = 0)
         AS script_keep
FROM d
"""


@q("t33_script_profile", oracle=_T33_ORACLE)
def t33(spark, sf):
    """Per-document script histogram + homoglyph confusable detection:
    counts of Latin / Cyrillic / CJK / Greek code points, a
    mixed-script flag, and the TR#39-style confusable verdict (a
    Latin letter adjacent to a Cyrillic one inside a word — the
    phishing/spam spoof shape); keep = no confusables.  Pure
    mixed-script documents (a real Cyrillic word in Latin prose) are
    flagged mixed but KEPT — only homoglyph splices fail.

    Scale shape: a narrow scan-local map (regexp counts fold into the
    projection, zero shuffle, t27's plan); patterns are explicit
    code-point ranges shared verbatim with the oracle."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(_T33_DECOR_SQL).alias("text")
    )
    cnt = {
        c: F.expr(f"CAST(size(regexp_extract_all(text, '{p}', 0))"
                  f" AS BIGINT)")
        for c, p in _T33_PAT.items()
    }
    conf = F.expr(
        f"CAST(size(regexp_extract_all(text, '{_T33_CONF}', 0))"
        f" AS BIGINT)"
    )
    return d.select(
        "doc_id",
        *[v.alias(k) for k, v in cnt.items()],
        conf.alias("n_confusable"),
        (
            (cnt["n_cyr"] > 0) | (cnt["n_cjk"] > 0)
            | (cnt["n_greek"] > 0)
        ).alias("mixed_script"),
        (conf == 0).alias("script_keep"),
    )


# ------------------------------------------------------------- t34
# URL canonicalization (public: the URL-normalization prep every
# URL-keyed dedup runs — RFC 3986 normal form plus the tracking-param
# strip popularized by C4/CCNet pipelines).  Each doc gets ONE messy
# URL injected deterministically (doc_id % 7 picks the mess — 7 is
# coprime with the 50-page key, so DIFFERENT messy forms of the SAME
# page co-occur and genuinely collapse under canonicalization):
#   0: already canonical            3: :443 default port + #fragment
#   1: UPPERCASE scheme+host + utm_ params
#   2: www. prefix + trailing /    4: http:// + real param + fbclid
# Canonical form: lowercase scheme+host, https, no www., no default
# port, no fragment, no utm_*/fbclid params (REAL params survive), no
# trailing slash.  The transform chain is the same regex sequence in
# both engines (replacement backref syntax differs: $1 in Spark,
# \\1 in DuckDB — patterns identical).
_T34_PAGES = 50


def _t34_decor(concat, doc_id_str):
    """Shared decoration recipe; engine differences injected."""
    k = f"CAST(doc_id % {_T34_PAGES} AS {doc_id_str})"
    return (
        f"CASE CAST(doc_id % 7 AS INTEGER)"
        f" WHEN 0 THEN {concat}('https://example.org/article/', {k})"
        f" WHEN 1 THEN {concat}('HTTP://EXAMPLE.ORG/article/', {k},"
        f"   '?utm_source=feed&utm_campaign=x')"
        f" WHEN 2 THEN {concat}('https://www.example.org/article/',"
        f"   {k}, '/')"
        f" WHEN 3 THEN {concat}('https://example.org:443/article/',"
        f"   {k}, '#section-2')"
        f" ELSE {concat}('http://example.org/article/', {k},"
        f"   '?id=7&fbclid=abc')"
        f" END"
    )


# ordered (pattern, spark_repl, duck_repl) canonicalization chain;
# host-lowercasing happens separately (regexp_replace cannot lower)
_T34_CHAIN = (
    (r"#.*$", "", ""),                       # fragment
    (r"([?&])(utm_[a-z]+|fbclid)=[^&]*", r"$1", r"\1"),  # tracking
    (r"[?&]+$", "", ""),                     # bare trailing ? / &
    (r"\?&+", "?", "?"),                     # ?&id=7 -> ?id=7
    (r"&&+", "&", "&"),                      # a=1&&b=2 -> a=1&b=2
    (r"^http://", "https://", "https://"),   # scheme upgrade
    (r"^https://www\.", "https://", "https://"),  # www strip
    (r"^https://([a-z0-9.\-]+):443", r"https://$1", r"https://\1"),
    (r"/$", "", ""),                         # trailing slash
)


def _t34_canon_spark(col):
    # lowercase scheme+host, keep path case as-is
    expr = (
        f"concat(lower(regexp_extract({col}, '^[^/?#]*//[^/?#]*', 0)),"
        f" substring({col},"
        f" length(regexp_extract({col}, '^[^/?#]*//[^/?#]*', 0)) + 1))"
    )
    for pat, repl, _d in _T34_CHAIN:
        p = pat.replace("\\", "\\\\").replace("'", "\\'")
        r = repl.replace("\\", "\\\\")
        expr = f"regexp_replace({expr}, '{p}', '{r}')"
    return expr


def _t34_canon_duck(col):
    expr = (
        f"lower(regexp_extract({col}, '^[^/?#]*//[^/?#]*'))"
        f" || substring({col},"
        f" strlen(regexp_extract({col}, '^[^/?#]*//[^/?#]*')) + 1)"
    )
    for pat, _s, repl in _T34_CHAIN:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return expr


_T34_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_t34_decor("concat", "VARCHAR")} AS url
  FROM documents
),
c AS (
  SELECT doc_id, url, {_t34_canon_duck("url")} AS canon_url FROM u
)
SELECT doc_id, url, canon_url, md5(canon_url) AS url_key,
       CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)
         AS n_sharing,
       (row_number() OVER (PARTITION BY canon_url ORDER BY doc_id)
        = 1) AS url_keeper
FROM c
"""


@q("t34_url_canonicalize", oracle=_T34_ORACLE)
def t34(spark, sf):
    """URL canonicalization + URL-keyed dedup prep: each document's
    messy URL normalized (lowercase scheme+host, https, no www/
    default port/fragment/tracking params/trailing slash — real query
    params survive), the md5 dedup key over the canonical form, how
    many docs share it, and the lowest-doc_id keeper verdict.

    Scale shape: the canonical form is a scan-local regex chain (zero
    shuffle to compute); the share-count/keeper window shuffles once
    on the canonical key — exactly d01's exact-dedup exchange with
    canon_url as the content hash.  ~10 docs collapse per canonical
    page here, so the collapse path is exercised for real."""
    from pyspark.sql import Window as W

    u = t(spark, sf, "documents").select(
        "doc_id",
        F.expr(_t34_decor("concat", "STRING")).alias("url"),
    )
    c = u.select(
        "doc_id", "url", F.expr(_t34_canon_spark("url")).alias("canon_url")
    )
    wc = W.partitionBy("canon_url")
    wr = W.partitionBy("canon_url").orderBy("doc_id")
    return c.select(
        "doc_id",
        "url",
        "canon_url",
        F.md5("canon_url").alias("url_key"),
        F.count("*").over(wc).cast("long").alias("n_sharing"),
        (F.row_number().over(wr) == 1).alias("url_keeper"),
    )


# ------------------------------------------------------------- t35
# Vocabulary-growth curve (public: Heaps' law / Herdan's law — the
# corpus-statistics audit behind tokenizer sizing and dedup health:
# a corpus whose vocabulary stops growing is repeating itself).  In
# deterministic ingest order (doc_id), each document's row carries
# the cumulative token count, the cumulative DISTINCT vocabulary, the
# number of never-seen-before types it contributed, and the milli
# type-token ratio.  The distributed trick: "running distinct" needs
# no sequential state — a type's FIRST document is min(doc_id) over
# its postings, so cum_vocab(d) = count of types with first_doc <= d,
# a groupBy + one cumulative window over DOC-grain rows.
_T35_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
),
first_seen AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
),
new_types AS (
  SELECT first_doc AS doc_id, count(*) AS n_new
  FROM first_seen GROUP BY first_doc
)
SELECT p.doc_id,
       CAST(sum(p.n_tok) OVER w AS BIGINT) AS cum_tok,
       CAST(sum(COALESCE(n.n_new, 0)) OVER w AS BIGINT) AS cum_vocab,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_types,
       CAST(1000 * sum(COALESCE(n.n_new, 0)) OVER w
            // sum(p.n_tok) OVER w AS BIGINT) AS ttr_milli
FROM per_doc p LEFT JOIN new_types n ON n.doc_id = p.doc_id
WINDOW w AS (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
"""


_T35_CHUNK = 1024  # docs per prefix-sum chunk (production: ~2^20)


@q("t35_vocab_growth", oracle=_T35_ORACLE)
def t35(spark, sf):
    """Heaps-law vocabulary growth in ingest order: per document the
    cumulative token count, cumulative distinct vocabulary, its
    never-seen-before type contribution, and the milli type-token
    ratio — the corpus-health curve (flat vocabulary growth means
    the crawl is repeating itself; TTR collapse flags template
    spam).

    Scale shape: no sequential "running distinct" state — a type's
    first document is min(doc_id) over its postings (one shuffle on
    token, t23's inverted-index exchange), folded to doc-grain
    new-type counts; the cumulative curve is then the classic
    TWO-LEVEL scan, never a global window: docs chunk by doc_id
    value (``doc_id div _T35_CHUNK``), a PARTITIONED window computes
    the prefix inside each chunk in parallel, and the cross-chunk
    offsets come from the chunk-grain totals (|chunks| rows),
    prefix-summed by the SAME decomposition one level up — a
    super-chunk-partitioned window plus a broadcast inequality join
    over the super-chunk totals (|corpus| / CHUNK^2 rows, bounded) —
    and broadcast-joined back.  Fully distributed: no driver-side
    fold anywhere (the round-4 bounded collect is gone).  The chunk
    key is a pure function of doc_id, so the decomposition is
    deterministic under any physical partitioning."""
    from pyspark.sql import Window as W

    from .dedup import _tokens

    toks = t(spark, sf, "documents").select(
        "doc_id", F.explode(_tokens()).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    new_types = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    j = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.expr(f"doc_id div {_T35_CHUNK}").alias("chunk"),
    )
    wloc = (
        W.partitionBy("chunk")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    loc = j.select(
        "doc_id",
        "chunk",
        "n_new",
        F.sum("n_tok").over(wloc).alias("loc_tok"),
        F.sum("n_new").over(wloc).alias("loc_new"),
    )
    # chunk-grain totals -> exclusive prefix offsets, fully
    # distributed (no driver fold): the same two-level trick one
    # level up.  Chunk totals group into SUPER-chunks (chunk div
    # _T35_CHUNK); a super-partitioned window gives each chunk its
    # exclusive prefix INSIDE its super-chunk, and the cross-super
    # offsets come from a broadcast inequality join over the
    # super-chunk totals — a relation of |corpus| / CHUNK^2 rows
    # (~1 row at 10^12 docs with the production 2^20 chunk width),
    # so the BroadcastNestedLoopJoin's quadratic term is over a
    # provably bounded input, never corpus-grain.
    tot = (
        j.groupBy("chunk")
        .agg(F.sum("n_tok").alias("ct"), F.sum("n_new").alias("cn"))
        .withColumn("sup", F.expr(f"chunk div {_T35_CHUNK}"))
    )
    w2 = (
        W.partitionBy("sup")
        .orderBy("chunk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    loc2 = tot.select(
        "chunk",
        "sup",
        F.coalesce(F.sum("ct").over(w2), F.lit(0)).alias("l_off_t"),
        F.coalesce(F.sum("cn").over(w2), F.lit(0)).alias("l_off_n"),
    )
    sup_tot = tot.groupBy("sup").agg(
        F.sum("ct").alias("st"), F.sum("cn").alias("sn")
    )
    prior = sup_tot.select(F.col("sup").alias("b_sup"), "st", "sn")
    sup_off = (
        sup_tot.select("sup")
        .join(F.broadcast(prior), F.col("b_sup") < F.col("sup"), "left")
        .groupBy("sup")
        .agg(
            F.coalesce(F.sum("st"), F.lit(0)).alias("s_off_t"),
            F.coalesce(F.sum("sn"), F.lit(0)).alias("s_off_n"),
        )
    )
    off = loc2.join(F.broadcast(sup_off), "sup").select(
        "chunk",
        (F.col("s_off_t") + F.col("l_off_t")).alias("off_tok"),
        (F.col("s_off_n") + F.col("l_off_n")).alias("off_new"),
    )
    cum_tok = F.col("off_tok") + F.col("loc_tok")
    cum_voc = F.col("off_new") + F.col("loc_new")
    return loc.join(F.broadcast(off), "chunk").select(
        "doc_id",
        cum_tok.cast("long").alias("cum_tok"),
        cum_voc.cast("long").alias("cum_vocab"),
        F.col("n_new").cast("long").alias("n_new_types"),
        F.expr(
            "CAST(1000 * (off_new + loc_new)"
            " div (off_tok + loc_tok) AS BIGINT)"
        ).alias("ttr_milli"),
    )


# ------------------------------------------------------------- t36
# Language-ID confusion matrix (public: the standard classifier
# audit): t01's predicted language crossed with the corpus label —
# per (labeled, pred) cell the count and ppm share, plus the labeled
# class's recall and the predicted class's precision attached to
# every cell (integer ppm; a class's metric repeats on each of its
# cells so the relation stays one clean grain).  This is the eval
# loop that gates a lang-ID model swap before it re-routes a corpus.
_T36_ORACLE = None  # assigned below once t01's oracle exists


@q("t36_langid_confusion")
def t36(spark, sf):
    """Confusion-matrix audit of the t01 language classifier: per
    (labeled, pred) cell its count, ppm share of the corpus, the
    labeled class's recall, the predicted class's precision, and the
    diagonal flag.

    Scale shape: one groupBy over t01's doc-grain output (the cells
    relation is |langs|^2 rows at any corpus size) + two tiny
    window/agg passes at cell grain for the class totals — nothing
    row-scale after the first aggregate."""
    t1 = QUERIES["t01_language_id"](spark, sf).select(
        "labeled_lang", "pred_lang"
    )
    cells = t1.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    return cells.select(
        "labeled_lang",
        "pred_lang",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(1000000 * n div sum(n) OVER () AS BIGINT)"
        ).alias("cell_ppm"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN labeled_lang = pred_lang"
            " THEN n ELSE 0 END) OVER (PARTITION BY labeled_lang)"
            " div sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN labeled_lang = pred_lang"
            " THEN n ELSE 0 END) OVER (PARTITION BY pred_lang)"
            " div sum(n) OVER (PARTITION BY pred_lang) AS BIGINT)"
        ).alias("precision_ppm"),
        (F.col("labeled_lang") == F.col("pred_lang")).alias("is_diag"),
    )


ORACLE["t36_langid_confusion"] = f"""
WITH t1 AS ({ORACLE["t01_language_id"]}),
cells AS (
  SELECT labeled_lang, pred_lang, count(*) AS n
  FROM t1 GROUP BY labeled_lang, pred_lang
)
SELECT labeled_lang, pred_lang, CAST(n AS BIGINT) AS n,
       CAST(1000000 * n // sum(n) OVER () AS BIGINT) AS cell_ppm,
       CAST(1000000 * sum(CASE WHEN labeled_lang = pred_lang
                       THEN n ELSE 0 END)
            OVER (PARTITION BY labeled_lang)
            // sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT)
         AS recall_ppm,
       CAST(1000000 * sum(CASE WHEN labeled_lang = pred_lang
                       THEN n ELSE 0 END)
            OVER (PARTITION BY pred_lang)
            // sum(n) OVER (PARTITION BY pred_lang) AS BIGINT)
         AS precision_ppm,
       labeled_lang = pred_lang AS is_diag
FROM cells
"""


# ------------------------------------------------------------- t37
# RAKE keyphrase extraction (public: Rose et al. 2010, "Automatic
# Keyword Extraction from Individual Documents") — the tagging /
# search-indexing pass: candidate phrases are maximal token runs
# between delimiters (punctuation or a stopword — t11's stopword
# lexicon, shared verbatim), each word scores deg/freq over the
# document's phrases (deg = sum of lengths of phrases containing the
# word), and a phrase scores the sum of its word scores.  Word scores
# are frozen to integer milli BEFORE the phrase sum (t14's pattern),
# so ranking is exact integer arithmetic cross-engine; top-3 phrases
# per doc, ties broken by phrase text.  The delimiter regex chain is
# the SAME pattern text in both engines (RE2 and Java both support
# ASCII \b).
_T37_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have",
                   "with")
_T37_STOP_RE = r"\b(" + "|".join(_T37_STOP_WORDS) + r")\b"
_T37_PHRASE_RE = "[a-z0-9]+( +[a-z0-9]+)*"
_T37_K = 3


_T37_ORACLE = f"""
WITH ph AS (
  SELECT doc_id,
         unnest(regexp_extract_all(
           regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '.', 'g'),
             '{_T37_STOP_RE}', '.', 'g'),
           '{_T37_PHRASE_RE}')) AS phrase
  FROM documents
),
pw AS (
  SELECT doc_id, phrase,
         len(string_split_regex(phrase, ' +')) AS plen,
         unnest(string_split_regex(phrase, ' +')) AS w
  FROM ph
),
ws AS (
  SELECT doc_id, w,
         CAST(1000 * sum(plen) // count(*) AS BIGINT) AS w_milli
  FROM pw GROUP BY doc_id, w
),
cand AS (SELECT DISTINCT doc_id, phrase FROM ph),
cw AS (
  SELECT doc_id, phrase,
         unnest(string_split_regex(phrase, ' +')) AS w
  FROM cand
),
du AS (
  SELECT cw.doc_id, cw.phrase,
         CAST(sum(ws.w_milli) AS BIGINT) AS score_milli
  FROM cw JOIN ws ON ws.doc_id = cw.doc_id AND ws.w = cw.w
  GROUP BY cw.doc_id, cw.phrase
),
rk AS (
  SELECT doc_id, phrase, score_milli,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_milli DESC, phrase)
           AS rank
  FROM du
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, phrase, score_milli
FROM rk WHERE rank <= {_T37_K}
"""


@q("t37_rake_keyphrases", oracle=_T37_ORACLE)
def t37(spark, sf):
    """RAKE keyphrases: top-3 candidate phrases per document by the
    deg/freq co-occurrence score — the document-local keyword
    extraction behind tagging and sparse search indexing, with no
    model and no corpus pass.

    Scale shape: phrase splitting is a scan-local regex chain; word
    stats and phrase scores are two doc-grain groupBys (one shuffle
    each on (doc, word) / (doc, phrase) — both bounded by document
    length); the top-3 window runs per doc.  Word deg/freq stats
    run over ALL phrase instances (RAKE's definition) while each
    distinct CANDIDATE scores once — repeated phrases raise their
    words' degrees, not the candidate's score directly."""
    from pyspark.sql import Window as W

    ph = t(spark, sf, "documents").select(
        "doc_id",
        F.explode(
            F.expr(
                "regexp_extract_all(regexp_replace(regexp_replace("
                f"lower(text), '[^a-z0-9 ]', '.'),"
                f" '{_T37_STOP_RE.replace(chr(92), chr(92) * 2)}',"
                f" '.'), '{_T37_PHRASE_RE}', 0)"
            )
        ).alias("phrase"),
    )
    pw = ph.select(
        "doc_id",
        "phrase",
        F.expr("size(split(phrase, ' +'))").alias("plen"),
        F.explode(F.expr("split(phrase, ' +')")).alias("w"),
    )
    ws = pw.groupBy("doc_id", "w").agg(
        F.expr(
            "CAST(1000 * sum(plen) div count(*) AS BIGINT)"
        ).alias("w_milli")
    )
    cand = ph.select("doc_id", "phrase").distinct()
    cw = cand.select(
        "doc_id",
        "phrase",
        F.explode(F.expr("split(phrase, ' +')")).alias("w"),
    )
    du = (
        cw.join(ws, ["doc_id", "w"])
        .groupBy("doc_id", "phrase")
        .agg(F.sum("w_milli").cast("long").alias("score_milli"))
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.desc("score_milli"), F.asc("phrase")
        )
    )
    return (
        du.withColumn("rank", rk)
        .filter(F.col("rank") <= _T37_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "phrase",
            "score_milli",
        )
    )


# ------------------------------------------------------------- t38
# Special-token scrub (public: the C4/RefinedWeb-class filter against
# tokenizer control sequences embedded in web text — "<|endoftext|>"
# and friends inside a training document truncate or poison training
# and are a prompt-injection vector; every production pipeline strips
# or rejects them).  The synthetic corpus is clean, so the firing
# population is injected DETERMINISTICALLY from doc_id (the t10/t11
# decoration pattern, identical expression in both engines):
#   doc_id % 7 == 0  -> ' ' + TOKENS[doc_id % 5] appended
#   doc_id % 11 == 0 -> ' ' + TOKENS[(doc_id + 2) % 5] appended
# (doc_id % 77 == 0 docs carry two tokens -> n_kinds branch live).
# Detection is replace/length arithmetic — no regex, so the literal
# tokens need no escaping and both engines share the exact strings.
_T38_TOKENS = ("<|endoftext|>", "<|im_start|>", "</s>", "<mask>", "[CLS]")


def _t38_tok_sql(i: int) -> str:
    return "'" + _T38_TOKENS[i].replace("'", "''") + "'"


def _t38_decor() -> str:
    arm1 = " ".join(
        f"WHEN doc_id % 5 = {i} THEN {_t38_tok_sql(i)}"
        for i in range(5)
    )
    arm2 = " ".join(
        f"WHEN (doc_id + 2) % 5 = {i} THEN {_t38_tok_sql(i)}"
        for i in range(5)
    )
    # third arm: an INTERLEAVED token ('<ma[CLS]sk>') — scrubbing
    # [CLS] reconstructs '<mask>', which a single replace pass has
    # already passed over; keeps the fixed-point audit branch
    # (spec_deep below) live on the synthetic corpus
    return (
        "text"
        f" || CASE WHEN doc_id % 7 = 0 THEN ' ' || CASE {arm1} END"
        "    ELSE '' END"
        f" || CASE WHEN doc_id % 11 = 0 THEN ' ' || CASE {arm2} END"
        "    ELSE '' END"
        " || CASE WHEN doc_id % 17 = 0 THEN ' <ma[CLS]sk>'"
        "    ELSE '' END"
    )


def _t38_counts(col: str) -> list[str]:
    # occurrences of token i = removed-length / token-length
    return [
        f"(length({col}) - length(replace({col}, {_t38_tok_sql(i)}, '')))"
        f" // {len(_T38_TOKENS[i])}"
        for i in range(5)
    ]


def _t38_scrub(col: str) -> str:
    out = col
    for i in range(5):
        out = f"replace({out}, {_t38_tok_sql(i)}, '')"
    return out


_T38_ORACLE = f"""
WITH d AS (SELECT doc_id, {_t38_decor()} AS t FROM documents),
c AS (
  SELECT doc_id, t,
         {", ".join(f"CAST({c} AS BIGINT) AS c{i}"
                    for i, c in enumerate(_t38_counts("t")))}
  FROM d
)
SELECT doc_id,
       CAST(c0 + c1 + c2 + c3 + c4 AS BIGINT) AS n_special,
       CAST((CASE WHEN c0 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c1 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kinds,
       CASE {" ".join(f"WHEN c{i} > 0 THEN {_t38_tok_sql(i)}"
                      for i in range(5))}
            ELSE '' END AS first_kind,
       md5({_t38_scrub("t")}) AS clean_hash,
       c0 + c1 + c2 + c3 + c4 = 0 AS spec_keep,
       {_t38_scrub(_t38_scrub("t"))} = {_t38_scrub("t")} AS spec_deep
FROM c
"""


@q("t38_special_token_scrub", oracle=_T38_ORACLE)
def t38(spark, sf):
    """Tokenizer special-token scrub: per document the count of
    embedded control sequences ("<|endoftext|>", "<|im_start|>",
    "</s>", "<mask>", "[CLS]"), how many distinct kinds fired, the
    first kind in fixed list order, the md5 of the scrubbed text (the
    auditable artifact a production scrub writes), and the keep
    verdict — the C4/RefinedWeb-class defense against training
    poisoning / prompt injection via control tokens in web text.
    Tokens are injected deterministically from doc_id (module
    comment) so detection, multi-kind, and clean branches all fire in
    any corpus slice.

    Scale shape: pure replace/length arithmetic over the scan — zero
    shuffle, no regex (literal tokens need no escaping and both
    engines share the exact strings); at production the token list is
    the tokenizer's actual special-token vocabulary, same plan.

    Known limitation (audit finding), now DETECTED rather than just
    documented: the scrub is ONE sequential replace pass in fixed
    list order, so interleaved tokens can reconstruct an
    earlier-listed one ('<ma[CLS]sk>' scrubs to '<mask>', which
    survives in clean_hash), and the per-token counts are computed
    independently on the raw text.  The ``spec_deep`` column audits
    exactly this: TRUE iff a second scrub pass is a fixed point —
    FALSE flags a document where the single pass was bypassed (the
    doc_id % 17 injection arm keeps that branch live on the
    synthetic corpus).  A production scrub closes the bypass with a
    single-pass alternation regex (no re-scan of produced text);
    that is not expressible identically in both engines without
    regex-escaping divergence, so what ships is the audited single
    pass + the fixed-point flag that quarantines the bypassed
    residue for a second pass."""
    d = t(spark, sf, "documents").select(
        "doc_id", F.expr(_t38_decor()).alias("tx")
    )
    counts = [
        c.replace("//", "div") for c in _t38_counts("tx")
    ]
    c = d.select(
        "doc_id",
        "tx",
        *[
            F.expr(cc).cast("long").alias(f"c{i}")
            for i, cc in enumerate(counts)
        ],
    )
    total = sum(F.col(f"c{i}") for i in range(5))
    kinds = sum(
        F.when(F.col(f"c{i}") > 0, 1).otherwise(0) for i in range(5)
    )
    first = F.expr(
        "CASE "
        + " ".join(
            f"WHEN c{i} > 0 THEN {_t38_tok_sql(i)}" for i in range(5)
        )
        + " ELSE '' END"
    )
    return c.select(
        "doc_id",
        total.cast("long").alias("n_special"),
        kinds.cast("long").alias("n_kinds"),
        first.alias("first_kind"),
        F.md5(F.expr(_t38_scrub("tx"))).alias("clean_hash"),
        (total == 0).alias("spec_keep"),
        F.expr(
            f"{_t38_scrub(_t38_scrub('tx'))} = {_t38_scrub('tx')}"
        ).alias("spec_deep"),
    )
