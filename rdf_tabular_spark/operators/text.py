"""Text-analysis operators for training-data pipelines over a ``documents``
table (doc_id, text, lang, source, n_chars).

Everything here is pure Column expressions (JVM-side, whole-stage codegen) —
no Python UDFs, no shuffle: each operator is a narrow per-row projection that
scales linearly with executors. The only hash primitive is ``md5`` because it
is bit-identical across Spark and DuckDB, which makes every operator
oracle-checkable (the driver's DuckDB cross-check) — at production scale you
would swap ``xxhash64`` in for a ~3× cheaper hash with the same plan shape.

These ops have no counterpart in the reference (rdf-tabular is a CSVW→RDF
mapper, SURVEY.md §2.9); they are the training-data extensions required for
the 100 TB web-corpus use-case.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"

# Stopword marker sets per language for the n-gram/marker heuristic language
# identifier. Deliberately tiny: language ID at corpus scale is a pre-filter,
# not a classifier — precision comes from the downstream quality gates.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to", "in"),
    "de": ("der", "die", "und", "ist", "das", "nicht"),
    "fr": ("le", "la", "et", "est", "les", "des"),
    "es": ("el", "los", "y", "es", "una", "que"),
    "it": ("il", "di", "e", "che", "per", "con"),
}
LANG_ORDER = ("en", "de", "fr", "es", "it")  # deterministic tie-break

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("a", "it", "for", "on", "with", "as")

# BPE-ish token regex: words, numbers, or single punctuation marks — the
# cheap stand-in for a real tokenizer's pre-tokenization split.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of a trimmed string → array<string>."""
    return F.split(F.trim(col), WS)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish pre-tokens (letters runs + digit runs + punct marks).

    ``regexp_count`` keeps this JVM-side; a real BPE would be a Pandas UDF
    over the same partitioning.
    """
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.size(toks)


def punct_ratio(col: Column) -> Column:
    """Punctuation characters / total characters."""
    n = F.length(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]-]", "")) / n)


def avg_token_len(col: Column) -> Column:
    toks = tokens(col)
    return F.aggregate(toks, F.lit(0).cast("double"),
                       lambda acc, t: acc + F.length(t)) / F.size(toks)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence −
    punctuation excess. Mirrors Gopher/C4-style filters in spirit; every term
    is a Column expression so the score compiles into one codegen stage.
    """
    n_toks = token_count(col).cast("double")
    len_term = F.least(n_toks / F.lit(20.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - punct_ratio(col) * 5, F.lit(0.0))
    return F.round((len_term + stop_term + punct_term) / 3, 4)


def lang_scores(col: Column) -> dict[str, Column]:
    toks = tokens(col)
    return {lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
            for lang, markers in LANG_MARKERS.items()}


def lang_id(col: Column) -> Column:
    """Marker-word language ID → 2-letter code or 'und'.

    argmax over LANG_ORDER with first-wins tie-break, expressed as a chained
    CASE so Spark and the SQL oracle evaluate identically.
    """
    scores = lang_scores(col)
    expr = F.lit("und")
    # build CASE from lowest priority upward so earlier langs win ties
    for lang in reversed(LANG_ORDER):
        s = scores[lang]
        cond = (s > 0)
        for other in LANG_ORDER:
            if other == lang:
                break  # only langs EARLIER in order must be strictly beaten
            cond = cond & (s > scores[other])
        for other in LANG_ORDER[LANG_ORDER.index(lang) + 1:]:
            cond = cond & (s >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Two docs with the same bag-of-words collide — the cheap
    canonical form used for fuzzy-then-exact dedup cascades.
    """
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (distinct). Built with
    transform over an index sequence -- stays inside codegen, no explode.

    Short docs (< n tokens) yield an empty array; the index sequence is
    guarded because both engines must agree exactly (SQL ``||`` nulls out
    on out-of-range element access while Spark ``concat_ws`` skips nulls).
    """
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]))
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams)
        .otherwise(F.array().cast("array<string>")))


# --- Gopher-style document quality rules (Rae et al. 2021, §A1.1) ----------
# Public heuristics for web-corpus filtering: word-count band, mean word
# length band, symbol/word ratio, bullet- and ellipsis-line ratios,
# alphabetic-word ratio, stop-word presence. All metrics are pure Column
# expressions (one codegen stage, no shuffle) and each is mirrored 1:1 by
# queries._GOPHER_SQL so the whole rule family is oracle-checked.

GOPHER_BULLET_RE = r"^\s*[-*•]"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def gopher_metrics(col: Column) -> dict[str, Column]:
    """Raw metric columns (rounded to 4 dp where fractional)."""
    toks = tokens(col)
    n_words = F.size(toks).cast("long")
    nw = F.when(n_words == 0, F.lit(None)).otherwise(n_words).cast("double")
    total_len = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda acc, t: acc + F.length(t))
    lines = F.split(col, "\n")
    n_lines = F.size(lines).cast("double")
    bullet = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_BULLET_RE)))
    ellipsis = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_ELLIPSIS_RE)))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    symbol = F.size(F.filter(toks, lambda t: t.rlike(r"#|\.\.\.|…")))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    # repetition rules (the most predictive Gopher family): fraction of
    # duplicate lines, and the share of all word-bigrams taken by the most
    # frequent one — both pure array expressions, no shuffle
    dup_lines = (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
    bigrams = F.when(
        n_words >= 2,
        F.transform(F.sequence(F.lit(0), n_words.cast("int") - 2),
                    lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                          F.element_at(toks, i + 2)))
    ).otherwise(F.array().cast("array<string>"))
    # most-frequent-bigram count via sort + run-length fold: O(n log n) per
    # doc and shuffle-free (a filter-per-distinct-gram scan would be O(d²)
    # — 1e10 ops for a 100k-word doc, a per-row scale killer)
    run_acc = F.aggregate(
        F.array_sort(bigrams),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1))
             .alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)))
             .alias("best")))
    top_bigram = F.nullif(run_acc["best"], F.lit(0))
    return {
        "n_words": n_words,
        "mean_word_len": F.round(total_len.cast("double") / nw, 4),
        "symbol_ratio": F.round(symbol.cast("double") / nw, 4),
        "bullet_line_ratio": F.round(bullet.cast("double") / n_lines, 4),
        "ellipsis_line_ratio": F.round(ellipsis.cast("double") / n_lines, 4),
        "alpha_word_ratio": F.round(alpha.cast("double") / nw, 4),
        "stop_hits": stop_hits.cast("long"),
        "dup_line_ratio": F.round(dup_lines / n_lines, 4),
        "top_bigram_ratio": F.round(
            F.coalesce(top_bigram.cast("double"), F.lit(0.0))
            / F.greatest(F.size(bigrams).cast("double"), F.lit(1.0)), 4),
    }


def gopher_pass(col: Column, min_words: int = 5, max_words: int = 100_000,
                min_mean_len: float = 2.0, max_mean_len: float = 12.0,
                max_symbol: float = 0.1, max_bullet: float = 0.9,
                max_ellipsis: float = 0.3, min_alpha: float = 0.8,
                min_stops: int = 1, max_dup_line: float = 0.3,
                max_top_bigram: float = 0.18) -> Column:
    """Conjunction of the rule family (thresholds parameterized — defaults
    are loosened from the paper's 50-word floor so the synthetic fixture
    corpus exercises both outcomes)."""
    m = gopher_metrics(col)
    return ((m["n_words"] >= min_words) & (m["n_words"] <= max_words)
            & (m["mean_word_len"] >= min_mean_len)
            & (m["mean_word_len"] <= max_mean_len)
            & (m["symbol_ratio"] <= max_symbol)
            & (m["bullet_line_ratio"] <= max_bullet)
            & (m["ellipsis_line_ratio"] <= max_ellipsis)
            & (m["alpha_word_ratio"] >= min_alpha)
            & (m["stop_hits"] >= min_stops)
            & (m["dup_line_ratio"] <= max_dup_line)
            & (m["top_bigram_ratio"] <= max_top_bigram))


def tfidf_top_terms(docs, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Top-k TF-IDF terms per document — the classic keyword/topic signal
    for corpus mixture monitoring and per-document routing.

    idf is the PLAIN inverse document-frequency ratio ``N/df`` (no log):
    multiply/divide/round are bit-identical IEEE ops across Spark and
    DuckDB, so the score column survives the oracle value-hash, while the
    ranking is monotone-equivalent to log-idf within one corpus (log is
    monotone). Shape: explode → (doc, term) count with map-side partial
    agg, df from the tf table (second keyed agg), term-keyed join (AQE
    broadcasts the df side when the vocabulary is small), then a per-doc
    row_number window — partition key is doc_id, so the window never
    concentrates rows. Ties break on term ascending.
    """
    from pyspark.sql import Window

    n_docs = float(docs.count())
    tf = (docs.select(id_col,
                      F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(dfreq, "term")
              .withColumn("score",
                          F.round(F.col("tf") * F.lit(n_docs) / F.col("df"),
                                  4)))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", F.col("rank").cast("long").alias("rank"),
                    "score"))


# --- linear quality classifier (fastText/CCNet-style model stage) -----------
# Web pipelines follow the heuristic gates with a TRAINED quality classifier
# (CCNet Wenzek et al. 2020 and RefinedWeb Penedo et al. 2023 use a linear
# fastText model over bag-of-words/shape features). A real model is just a
# weight vector; the Spark-side shape of the stage — dot product of per-doc
# feature columns against broadcast-literal weights, one codegen projection,
# no shuffle — is identical whatever the weights are, so the fixed public
# weights below stand in for a trained artifact. The margin is kept LINEAR: a
# sigmoid would be monotone (same ranking, same threshold decisions) but
# exp() is not bit-identical across engines, and the linear margin is —
# every feature is a ratio of integers and the dot product is a fixed
# left-to-right chain of IEEE ops both engines evaluate identically.

CLASSIFIER_WEIGHTS = {
    "bias": -1.25,
    "stop_ratio": 2.0,      # English function words ⇒ running prose
    "len_feat": 1.5,        # saturating token count (n_tokens/50 capped 1)
    "punct_ratio": -3.0,    # symbol soup ⇒ boilerplate/code
    "awl_feat": 0.5,        # mean word length, /8 capped 1
}


def classifier_features(col: Column) -> dict[str, Column]:
    """The classifier's feature columns, each an exact integer ratio."""
    toks = tokens(col)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0).cast("long"),
                            lambda acc, t: acc + F.length(t))
    return {
        "stop_ratio": stopword_ratio(col),
        "len_feat": F.least(n / F.lit(50.0), F.lit(1.0)),
        "punct_ratio": punct_ratio(col),
        "awl_feat": F.least(total_len / n / F.lit(8.0), F.lit(1.0)),
    }


def classifier_margin(col: Column) -> Column:
    """Linear quality margin w·x + b, rounded to 6 dp; keep ⇔ margin > 0."""
    f = classifier_features(col)
    w = CLASSIFIER_WEIGHTS
    margin = (F.lit(w["bias"])
              + f["stop_ratio"] * F.lit(w["stop_ratio"])
              + f["len_feat"] * F.lit(w["len_feat"])
              + f["punct_ratio"] * F.lit(w["punct_ratio"])
              + f["awl_feat"] * F.lit(w["awl_feat"]))
    return F.round(margin, 6)


# Unicode script ranges (BMP blocks that dominate web text) — ONE source of
# truth for the Column exprs and the SQL mirror; counts are integer-exact
# across engines because both regex dialects support literal char ranges
SCRIPT_RANGES = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "cjk": "぀-ヿ一-鿿",
}


def script_counts(col: Column) -> dict[str, Column]:
    """Per-script character counts — the writing-system profile a
    multilingual corpus pipeline routes on (lang-ID disagreement between
    declared lang and dominant script is a classic spam signal). Pure
    ``regexp_count`` exprs, one codegen stage."""
    return {name: F.regexp_count(col, F.lit(f"[{rng}]"))
            for name, rng in SCRIPT_RANGES.items()}


def dominant_script(col: Column) -> Column:
    """Script with the highest character count; ties break by the fixed
    SCRIPT_RANGES order (latin first); all-zero → 'none'. Deterministic —
    replayable as a chained CASE in SQL."""
    counts = script_counts(col)
    items = list(counts.items())
    best = F.greatest(*[c for _, c in items]) if len(items) > 1 \
        else items[0][1]
    expr = F.lit("none")
    for name, c in reversed(items):
        expr = F.when((best > 0) & (c == best), F.lit(name)).otherwise(expr)
    return expr


def script_counts_sql(expr: str) -> dict[str, str]:
    return {name: f"len(regexp_extract_all({expr}, '[{rng}]'))"
            for name, rng in SCRIPT_RANGES.items()}


def dominant_script_sql(expr: str) -> str:
    counts = script_counts_sql(expr)
    items = list(counts.items())
    best = "greatest(" + ", ".join(c for _, c in items) + ")"
    out = "'none'"
    for name, c in reversed(items):
        out = (f"case when {best} > 0 and {c} = {best} "
               f"then '{name}' else {out} end")
    return out


# --- BPE merge statistics ---------------------------------------------------

def bpe_pair_counts(docs, text_col: str = "text") -> "DataFrame":
    """First-round BPE merge statistics → ``(pair, n_occurrences)``: the
    corpus-weighted adjacent-symbol pair counts the first merge of a BPE
    tokenizer train (Sennrich et al. 2016) is chosen from.  Symbols start
    as characters with the standard ``_`` end-of-word marker, so ``pair``
    is a 2-char string and the arg-max row IS the first merge.

    Scale shape: the corpus collapses to its word VOCABULARY first (one
    map-side-combined count keyed on the word), and the quadratic-ish
    pair expansion runs over distinct words only — the same
    vocabulary-not-rows discipline as blocked ER.  At 100 TB the word
    vocab is millions of rows where the corpus is trillions; every later
    BPE round reuses the same vocab table with re-segmented symbols.
    """
    from pyspark.sql import functions as F
    words = (docs.select(F.explode(
        F.split(F.trim(F.col(text_col)), WS)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("freq"))
        .withColumn("word", F.concat(F.col("word"), F.lit("_"))))
    pair = F.expr("transform(sequence(1, length(word) - 1),"
                  " i -> substring(word, i, 2))")
    return (words.select(F.col("freq"), F.explode(pair).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("n_occurrences")))


def bpe_pair_counts_sql(docs_sql: str, text_expr: str = "text") -> str:
    """DuckDB oracle for :func:`bpe_pair_counts` — same vocab-first plan
    with ``generate_series`` standing in for ``sequence``."""
    return f"""
with w as (
  select word || '_' as word, count(*) as freq from (
    select unnest(string_split_regex(trim({text_expr}), '\\s+')) as word
    from ({docs_sql}))
  where word <> '' group by word),
p as (
  select substring(word, i, 2) as pair, freq
  from w, unnest(generate_series(1, length(word) - 1)) as t(i))
select pair, sum(freq)::bigint as n_occurrences from p group by pair
"""


# --- readability ------------------------------------------------------------

_SENTENCE_RE = r"[.!?]+"
_SYLLABLE_RE = r"[aeiouyAEIOUY]+"


def readability_metrics(col: Column) -> dict[str, Column]:
    """Flesch reading-ease inputs as exact integer counts: whitespace
    words, ``[.!?]+`` sentence breaks (min 1), and vowel-group syllables —
    the standard cheap approximation (each maximal vowel run ≈ one
    syllable).  Pure ``regexp_count`` expressions, one codegen stage."""
    return {
        "n_words": token_count(col),
        "n_sentences": F.greatest(F.regexp_count(col, F.lit(_SENTENCE_RE)),
                                  F.lit(1)),
        "n_syllables": F.regexp_count(col, F.lit(_SYLLABLE_RE)),
    }


def flesch_reading_ease_milli(col: Column) -> Column:
    """Flesch reading ease = 206.835 − 1.015·(words/sentence) −
    84.6·(syllables/word) (Flesch 1948), emitted in floored MILLI-units
    as a bigint.  Rationale: ``round(double, k)`` differs between the JVM
    (decimal-string HALF_UP) and DuckDB (binary rounding) exactly at
    representational ties, so instead the formula is folded into ONE
    integer-valued numerator N = 206835·S·W − 1015·W² − 84600·Y·S over
    denominator S·W (flesch·1000 = N/(S·W)); both engines perform the
    same single exact-int division and ``floor`` of the identical double
    is bit-stable.  Exact while N < 2⁵³ (holds beyond 10⁶-word docs).
    Quality gates band-filter on it (60000–80000 ≈ plain English)."""
    m = readability_metrics(col)
    w = m["n_words"].cast("long")
    s = m["n_sentences"].cast("long")
    y = m["n_syllables"].cast("long")
    w1 = F.greatest(w, F.lit(1))
    num = (F.lit(206835) * s * w1 - F.lit(1015) * w * w
           - F.lit(84600) * y * s)
    return F.floor(num / (s * w1)).cast("long")


def readability_sql(expr: str) -> dict[str, str]:
    """DuckDB oracle expressions mirroring :func:`readability_metrics` /
    :func:`flesch_reading_ease`."""
    n_words = f"len(string_split_regex(trim({expr}), '\\s+'))"
    n_sent = f"greatest(len(regexp_extract_all({expr}, '{_SENTENCE_RE}')), 1)"
    n_syll = f"len(regexp_extract_all({expr}, '{_SYLLABLE_RE}'))"
    w1 = f"greatest({n_words}, 1)"
    num = (f"(206835 * {n_sent} * {w1} - 1015 * {n_words} * {n_words}"
           f" - 84600 * {n_syll} * {n_sent})")
    flesch = f"floor({num}::double / ({n_sent} * {w1}))::bigint"
    return {"n_words": n_words, "n_sentences": n_sent,
            "n_syllables": n_syll, "flesch_milli": flesch}


# --- host-scoped boilerplate ------------------------------------------------

def host_boilerplate_lines(docs, host_col: str = "host",
                           text_col: str = "text", id_col: str = "doc_id",
                           min_frac: float = 0.5,
                           min_pages: int = 2) -> "DataFrame":
    """Per-host boilerplate detection → ``(host, line, n_pages,
    n_host_pages, frac)``: lines that repeat across ≥ ``min_frac`` of a
    host's pages (nav bars, cookie banners, copyright footers) — the
    host-SCOPED complement of C4's global repeated-line rule, and the
    classic template-removal trick (cf. boilerplate handling in CCNet /
    Dresden Web Table Corpus).

    Scale shape: lines collapse to distinct (host, page, line) first, the
    count keys on (host, line) — the per-host line VOCABULARY, not the
    corpus — and the page totals broadcast back.  The fraction is one
    integer division rounded to 6.  At 100 TB, hash the line (md5) instead
    of carrying it; the plan is unchanged.

    ``min_pages`` floors the evidence: on a 1-page host EVERY line is
    "100% of pages", so lines must repeat on at least that many pages
    before counting as template.
    """
    from pyspark.sql import functions as F
    lines = (docs.select(F.col(host_col).alias("host"),
                         F.col(id_col).alias("id"),
                         F.explode(F.split(F.col(text_col), "\n"))
                         .alias("line"))
             .where(F.trim(F.col("line")) != "")
             .distinct())
    per_line = lines.groupBy("host", "line").agg(
        F.count("*").alias("n_pages"))
    totals = (docs.select(F.col(host_col).alias("host"),
                          F.col(id_col).alias("id")).distinct()
              .groupBy("host").agg(F.count("*").alias("n_host_pages")))
    return (per_line.join(F.broadcast(totals), "host")
            .withColumn("frac", F.round(F.col("n_pages").cast("double")
                                        / F.col("n_host_pages"), 6))
            .where((F.col("frac") >= min_frac)
                   & (F.col("n_pages") >= min_pages))
            .select("host", "line", F.col("n_pages").cast("long")
                    .alias("n_pages"),
                    F.col("n_host_pages").cast("long").alias("n_host_pages"),
                    "frac"))


def host_boilerplate_lines_sql(docs_sql: str, host_expr: str = "host",
                               text_expr: str = "text",
                               id_expr: str = "doc_id",
                               min_frac: float = 0.5,
                               min_pages: int = 2) -> str:
    """DuckDB oracle for :func:`host_boilerplate_lines`."""
    return f"""
with d as (select {host_expr} as host, {id_expr} as id, {text_expr} as text
           from ({docs_sql})),
lines as (
  select distinct host, id, line from (
    select host, id, unnest(string_split(text, chr(10))) as line from d)
  where trim(line) <> ''),
per_line as (select host, line, count(*) as n_pages
             from lines group by host, line),
totals as (select host, count(distinct id) as n_host_pages
           from d group by host)
select per_line.host, line, n_pages::bigint as n_pages,
       n_host_pages::bigint as n_host_pages,
       round(n_pages::double / n_host_pages, 6) as frac
from per_line join totals on per_line.host = totals.host
where n_pages::double / n_host_pages >= {min_frac}
  and n_pages >= {min_pages}
"""


def remove_host_boilerplate(docs, host_col: str = "host",
                            text_col: str = "text", id_col: str = "doc_id",
                            min_frac: float = 0.5,
                            min_pages: int = 2) -> "DataFrame":
    """Strip detected host boilerplate from each page → ``(id, clean_text,
    n_removed)``.  The per-host boilerplate line set is collected into one
    array per host (bounded by the host's template vocabulary) and joined
    back broadcast-style, so the cleanup itself is a narrow array-filter
    projection — the page text shuffles zero times."""
    from pyspark.sql import functions as F
    bl = (host_boilerplate_lines(docs, host_col, text_col, id_col,
                                 min_frac, min_pages)
          .groupBy("host").agg(F.collect_set("line").alias("bl")))
    joined = (docs.select(F.col(host_col).alias("host"),
                          F.col(id_col).alias("id"),
                          F.split(F.col(text_col), "\n").alias("lines"))
              .join(F.broadcast(bl), "host", "left"))
    kept = F.when(F.col("bl").isNull(), F.col("lines")).otherwise(
        F.filter("lines", lambda l: ~F.array_contains(F.col("bl"), l)))
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws("\n", kept).alias("clean_text"),
        (F.size("lines") - F.size(kept)).cast("long").alias("n_removed"))


# --- RAKE-lite keyphrases ---------------------------------------------------

KEYPHRASE_STOPWORDS = ENGLISH_STOPWORDS + ("this", "that", "was", "are",
                                           "be", "by", "an", "or", "and")


def _stop_split_re(stopwords: tuple[str, ...]) -> str:
    alt = "|".join(stopwords)
    # split on runs of stopwords and/or non-alphanumerics (RAKE's phrase
    # delimiter rule: stopwords and punctuation both break candidates)
    return rf"(?:\s*\b(?:{alt})\b\s*|[^a-z0-9\s]+\s*|\s\s+)+"


def keyphrases(docs, text_col: str = "text",
               stopwords: tuple[str, ...] = KEYPHRASE_STOPWORDS,
               max_words: int = 3, min_freq: int = 2) -> "DataFrame":
    """RAKE-style keyphrase candidates → ``(phrase, n_words, freq,
    score)``: contiguous non-stopword word runs (Rose et al. 2010), scored
    ``freq · n_words`` — the simplified corpus-level variant of RAKE's
    degree/frequency ratio (full per-phrase co-occurrence degree needs a
    phrase-word explode; same plan shape, omitted until needed).

    One narrow regexp-split + explode, one aggregation keyed on the
    phrase vocabulary.  ``min_freq`` keeps the long tail from dominating
    the output at corpus scale.
    """
    from pyspark.sql import functions as F
    rx = _stop_split_re(stopwords)
    cand = (docs.select(F.explode(
        F.split(F.lower(F.col(text_col)), rx)).alias("phrase"))
        .select(F.trim(F.col("phrase")).alias("phrase"))
        .where(F.col("phrase") != ""))
    nw = F.size(F.split(F.col("phrase"), r"\s+"))
    return (cand.where(nw <= max_words)
            .groupBy("phrase")
            .agg(F.count("*").alias("freq"))
            .where(F.col("freq") >= min_freq)
            .select("phrase",
                    F.size(F.split(F.col("phrase"), r"\s+")).cast("long")
                    .alias("n_words"),
                    F.col("freq").cast("long").alias("freq"),
                    (F.size(F.split(F.col("phrase"), r"\s+"))
                     * F.col("freq")).cast("long").alias("score")))


def keyphrases_sql(docs_sql: str, text_expr: str = "text",
                   stopwords: tuple[str, ...] = KEYPHRASE_STOPWORDS,
                   max_words: int = 3, min_freq: int = 2) -> str:
    """DuckDB oracle for :func:`keyphrases` (same split regex, RE2)."""
    rx = _stop_split_re(stopwords)
    return f"""
with cand as (
  select trim(p) as phrase from (
    select unnest(string_split_regex(lower({text_expr}), '{rx}')) as p
    from ({docs_sql}))
  where trim(p) <> ''),
sized as (select phrase, len(string_split_regex(phrase, '\\s+')) as n_words
          from cand)
select phrase, n_words::bigint as n_words, count(*)::bigint as freq,
       (n_words * count(*))::bigint as score
from sized where n_words <= {max_words}
group by phrase, n_words having count(*) >= {min_freq}
"""


# --- corpus drift / stratum divergence --------------------------------------

def source_divergence(docs, strat_col: str = "source",
                      text_col: str = "text") -> "DataFrame":
    """Total-variation distance between each stratum's word distribution
    and the corpus-wide distribution → ``(stratum, n_tokens, tv_micro)``
    with ``tv_micro = ⌊10⁶·TV⌋`` — the drift statistic that flags a
    source (or crawl snapshot) whose language shifted, feeding mixture
    re-weighting and quality triage.

    TV is chosen over KL/JS deliberately: log-based divergences go
    through libm and ``Σ p·log(p/q)`` is summation-order-dependent — they
    can never hash-match across engines.  TV in exact integers can:
    ``TV_s = Σ_w |c_ws·N − C_w·N_s| / (2·N_s·N)`` where every numerator
    term is an integer product; absent-from-stratum words fold into the
    closed form ``(N − Σ_{w∈s} C_w)·N_s`` so the sum runs only over the
    stratum's own vocabulary.  One floored integer division at the end.
    Exact while ``2·N_s·N·10⁶ < 2⁶³`` (≈ 10¹² corpus tokens with 10⁵-token
    strata — switch to decimal beyond).

    Plan: one (stratum, word) count, one word-level corpus re-aggregate,
    broadcast stratum totals, map-side partial sums — vocabulary-keyed
    shuffles only, the text never moves twice.
    """
    from pyspark.sql import functions as F
    words = (docs.select(F.col(strat_col).alias("stratum"),
                         F.explode(F.split(F.trim(F.col(text_col)), WS))
                         .alias("word"))
             .where(F.col("word") != ""))
    c = words.groupBy("stratum", "word").agg(F.count("*").alias("c_ws"))
    corpus = c.groupBy("word").agg(F.sum("c_ws").alias("c_w"))
    totals = c.groupBy("stratum").agg(F.sum("c_ws").alias("n_s"))
    n_total = totals.agg(F.sum("n_s").alias("n"))
    j = (c.join(corpus, "word")
         .join(F.broadcast(totals), "stratum")
         .crossJoin(F.broadcast(n_total)))
    per_strat = (j.groupBy("stratum")
                 .agg(F.sum(F.abs(F.col("c_ws") * F.col("n")
                                  - F.col("c_w") * F.col("n_s")))
                      .alias("sum1"),
                      F.sum("c_w").alias("cov"),
                      F.first("n_s").alias("n_s"),
                      F.first("n").alias("n")))
    s = (F.col("sum1") + (F.col("n") - F.col("cov")) * F.col("n_s"))
    return (per_strat
            .select(F.col("stratum").alias(strat_col),
                    F.col("n_s").cast("long").alias("n_tokens"),
                    (s * 1000000).cast("long").alias("_num"),
                    (2 * F.col("n_s") * F.col("n")).cast("long")
                    .alias("_den"))
            .select(strat_col, "n_tokens",
                    F.expr("_num div _den").cast("long").alias("tv_micro")))


def source_divergence_sql(docs_sql: str, strat_expr: str = "source",
                          text_expr: str = "text") -> str:
    """DuckDB oracle for :func:`source_divergence` — identical integer
    arithmetic."""
    return f"""
with w as (
  select {strat_expr} as stratum,
         unnest(string_split_regex(trim({text_expr}), '\\s+')) as word
  from ({docs_sql})),
c as (select stratum, word, count(*) as c_ws from w
      where word <> '' group by stratum, word),
corpus as (select word, sum(c_ws) as c_w from c group by word),
totals as (select stratum, sum(c_ws) as n_s from c group by stratum),
n_total as (select sum(n_s) as n from totals),
per as (
  select c.stratum,
         sum(abs(c.c_ws * n_total.n - corpus.c_w * totals.n_s)) as sum1,
         sum(corpus.c_w) as cov,
         first(totals.n_s) as n_s, first(n_total.n) as n
  from c join corpus using (word) join totals using (stratum)
       cross join n_total
  group by c.stratum)
select stratum as {strat_expr}, n_s::bigint as n_tokens,
       (((sum1 + (n - cov) * n_s) * 1000000) // (2 * n_s * n))::bigint
         as tv_micro
from per
"""


# --- BM25 relevance scoring -------------------------------------------------

def bm25_scores(docs, query_terms: tuple[str, ...],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> "DataFrame":
    """Okapi BM25 relevance of every document against a fixed query-term
    set → ``(id, n_matched, score)`` — the query-relevance filter a
    targeted-corpus build runs over a crawl (keep pages relevant to a
    topic), and the classic retrieval baseline next to the TF-IDF tier.

    Engine-exactness: corpus statistics (N, avgdl as an exact ratio,
    per-term document frequencies) come from ONE aggregation and join
    back broadcast; each term's contribution
    ``ln(1 + (N−df+0.5)/(df+0.5)) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``
    is a single fixed expression tree evaluated identically by both
    engines, and the per-document total is a FIXED-ORDER column sum over
    the (small, constant) query-term list — never a shuffle-ordered
    aggregate, so the doubles match bit-for-bit (same discipline as the
    PMI tier; rounded to 4).

    Plan: one stats aggregation + one broadcast crossJoin + one narrow
    scoring projection.  The corpus text is read twice (stats, score) —
    cache upstream if both passes matter.
    """
    from pyspark.sql import functions as F
    toks = F.split(F.trim(F.col(text_col)), WS)

    def _tf(term):
        # NB: a 1-arg lambda — F.filter treats 2-arg callables as
        # (element, index), which would shadow the closed-over term
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf = {t: _tf(t) for t in query_terms}
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks)).alias("total_len"),
        *[F.sum((tf[t] > 0).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(query_terms)])
    d = docs.select(F.col(id_col).alias("id"),
                    F.size(toks).alias("dl"),
                    *[tf[t].alias(f"tf_{i}")
                      for i, t in enumerate(query_terms)]) \
        .crossJoin(F.broadcast(stats))
    # avgdl enters as the exact ratio total_len/n_docs inside the norm
    # denominator: k1*(1-b) + k1*b*dl*n_docs/total_len — one division
    norm = (F.lit(k1) * F.lit(1 - b)
            + F.lit(k1) * F.lit(b) * F.col("dl").cast("double")
            * F.col("n_docs") / F.col("total_len"))
    score = F.lit(0.0)
    n_matched = F.lit(0)
    for i in range(len(query_terms)):
        tfc = F.col(f"tf_{i}").cast("double")
        idf = F.log(F.lit(1.0)
                    + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5)))
        score = score + idf * tfc * F.lit(k1 + 1) / (tfc + norm)
        n_matched = n_matched + (F.col(f"tf_{i}") > 0).cast("int")
    return d.select(F.col("id").alias(id_col),
                    n_matched.cast("long").alias("n_matched"),
                    F.round(score, 4).alias("score"))


def bm25_sql(docs_sql: str, query_terms: tuple[str, ...],
             text_expr: str = "text", id_expr: str = "doc_id",
             k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB oracle for :func:`bm25_scores` — identical expression tree
    and term order."""
    toks = f"string_split_regex(trim({text_expr}), '\\s+')"
    tf = {i: f"len(list_filter({toks}, x -> x = '{t}'))"
          for i, t in enumerate(query_terms)}
    dfs = ", ".join(
        f"sum(case when {tf[i]} > 0 then 1 else 0 end) as df_{i}"
        for i in range(len(query_terms)))
    tfs = ", ".join(f"{tf[i]} as tf_{i}" for i in range(len(query_terms)))
    norm = (f"({k1} * {1 - b} + {k1} * {b} * dl::double * n_docs"
            f" / total_len)")
    score = " + ".join(
        f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i}::double * {k1 + 1} / (tf_{i}::double + {norm})"
        for i in range(len(query_terms)))
    matched = " + ".join(f"(case when tf_{i} > 0 then 1 else 0 end)"
                         for i in range(len(query_terms)))
    return f"""
with stats as (
  select count(*) as n_docs, sum(len({toks})) as total_len, {dfs}
  from ({docs_sql})),
d as (select {id_expr} as id, len({toks}) as dl, {tfs}
      from ({docs_sql}))
select id as {id_expr}, ({matched})::bigint as n_matched,
       round({score}, 4) as score
from d cross join stats
"""


# --- sliding-window chunking ------------------------------------------------

def chunk_documents(docs, size: int = 64, overlap: int = 16,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> "DataFrame":
    """Sliding-window document chunking → ``(id, chunk_idx, chunk_text,
    n_tokens)`` with ``size``-token windows advancing by ``size −
    overlap`` — the retrieval/embedding prep step (every RAG index and
    long-document embedding job runs exactly this shape).  The final
    window is the remainder (possibly < size); a document shorter than
    one window yields a single chunk.

    Pure array expressions: one ``sequence`` over window starts, one
    ``slice`` per window, one explode — narrow, no shuffle, no Python.
    Stride is enforced positive (overlap < size) at call time.
    """
    from pyspark.sql import functions as F
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    stride = size - overlap
    toks = F.split(F.trim(F.col(text_col)), WS)
    n = F.size(toks)
    # window starts: 1, 1+stride, ... while start <= max(n - overlap, 1)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                        F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, size)))
    return (docs.select(F.col(id_col).alias("id"),
                        F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
            .select(F.col("id").alias(id_col), "chunk_idx", "chunk_text",
                    F.size(F.split(F.col("chunk_text"), WS)).cast("long")
                    .alias("n_tokens")))


def chunk_documents_sql(docs_sql: str, size: int = 64, overlap: int = 16,
                        text_expr: str = "text",
                        id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`chunk_documents` — same start sequence
    and slice semantics (list slicing clamps at the end in both)."""
    stride = size - overlap
    toks = f"string_split_regex(trim({text_expr}), '\\s+')"
    return f"""
with d as (select {id_expr} as id, {toks} as toks from ({docs_sql})),
s as (select id, toks,
             unnest(generate_series(1, greatest(len(toks) - {overlap}, 1),
                                    {stride})) as st
      from d),
c as (select id, (st - 1) // {stride} as chunk_idx,
             array_to_string(toks[st : st + {size} - 1], ' ') as chunk_text
      from s)
select id as {id_expr}, chunk_idx::bigint as chunk_idx, chunk_text,
       len(string_split_regex(chunk_text, '\\s+'))::bigint as n_tokens
from c
"""
