"""Text-analysis + dedup-family column functions for training-data pipelines.

Every op is expressed twice from one formula: a PySpark Column builder
(JVM-side, no Python UDFs) and a DuckDB SQL generator used as the
correctness oracle. Both engines evaluate literally the same arithmetic /
string ops, so value hashes match.

Ops: token counting, char n-gram shingling, MinHash signatures (md5-min,
lexicographic), LSH banding, SimHash, language-ID heuristic, quality
scoring, rolling-hash document fingerprint.

Scale notes (100 TB posture): all ops are per-row map-side expressions
except the pair-joins, which shuffle on (band_hash) / (gram) keys — both
high-cardinality, skew-resistant keys. MinHash-LSH candidate pairing is the
scale path for near-dup detection (n-gram Jaccard full pair-join is the
small-data oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_ALPHABET = "0123456789abcdef"

# --- tokens -------------------------------------------------------------------


def token_count(text: Column) -> Column:
    """Whitespace token count (single-space normalized input)."""
    return F.size(F.split(text, " "))


def token_count_sql(text: str) -> str:
    return f"len(string_split({text}, ' '))"


# --- character shingles ---------------------------------------------------------
# A doc's shingle set = { substr(text, i, k) : 1 <= i <= len-k+1 }.


def explode_char_shingles(df: DataFrame, text_col: str, k: int, out: str = "shingle") -> DataFrame:
    pos = F.explode(F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - F.lit(k - 1), F.lit(0))))
    return (
        df.withColumn("_pos", pos)
        .withColumn(out, F.expr(f"substr({text_col}, _pos, {k})"))
        .drop("_pos")
    )


def char_shingles_sql(doc_table: str, id_col: str, text_col: str, k: int, max_len: int = 100000) -> str:
    """DuckDB lateral: uncorrelated range cross join + length filter."""
    return (
        f"SELECT {id_col}, substr({text_col}, CAST(i AS INT), {k}) AS shingle "
        f"FROM {doc_table}, range(1, {max_len}) t(i) "
        f"WHERE i <= length({text_col}) - {k - 1}"
    )


# --- MinHash ---------------------------------------------------------------------
# Permutation p's hash of shingle s = md5(s || ':' || p); signature element =
# lexicographic MIN over the doc's shingles. Identical md5 hex on both engines.


def minhash_signature_sql(shingle_sql: str, id_col: str, n_perm: int) -> str:
    cols = ", ".join(
        f"min(md5(shingle || ':{p}')) AS sig_{p}" for p in range(n_perm)
    )
    return f"SELECT {id_col}, {cols} FROM ({shingle_sql}) GROUP BY {id_col}"


# Fast MinHash: ONE md5 per shingle -> 60-bit int h; permutation p's hash is
# (a_p * (h mod 2^30) + b_p) mod P computed arithmetically — ~n_perm times
# cheaper than per-permutation md5, same cross-engine bit-parity (the
# conv(md5)/CAST hex trick yields the identical integer on both engines).

MINHASH_P = 1_000_000_007
_MOD30 = 1 << 30


def _perm_ab(p: int) -> tuple[int, int]:
    # large multipliers: with small a the map (a*h+b) mod P is near-monotone
    # in h, every permutation picks the same argmin shingle, and the LSH
    # bands collapse into mega-buckets. a*h stays < 2^63 (no ANSI overflow).
    a = (2654435761 * (p + 1)) % MINHASH_P
    b = (40503 * (p + 7) * (p + 7) + 17) % MINHASH_P
    return a | 1, b


def minhash_signature_fast(shingles: DataFrame, id_col: str, n_perm: int) -> DataFrame:
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long") % F.lit(_MOD30)
    aggs = []
    for p in range(n_perm):
        a, b = _perm_ab(p)
        aggs.append(F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{p}"))
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_signature_fast_sql(shingle_sql: str, id_col: str, n_perm: int) -> str:
    h = f"(CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {_MOD30})"
    cols = ", ".join(
        f"min(({a} * {h} + {b}) % {MINHASH_P}) AS sig_{p}"
        for p, (a, b) in ((p, _perm_ab(p)) for p in range(n_perm))
    )
    return f"SELECT {id_col}, {cols} FROM ({shingle_sql}) GROUP BY {id_col}"


def lsh_bands(sig_df: DataFrame, id_col: str, n_perm: int, band_size: int) -> DataFrame:
    """(id, band_id, band_hash) — docs sharing any (band_id, band_hash) are
    near-dup candidates. Stacked via unionByName to keep one row per band."""
    n_bands = n_perm // band_size
    parts = []
    for b in range(n_bands):
        cols = [F.col(f"sig_{i}") for i in range(b * band_size, (b + 1) * band_size)]
        parts.append(
            sig_df.select(
                F.col(id_col),
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lsh_bands_sql(sig_sql: str, id_col: str, n_perm: int, band_size: int) -> str:
    n_bands = n_perm // band_size
    selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(f"sig_{i}" for i in range(b * band_size, (b + 1) * band_size))
        selects.append(
            f"SELECT {id_col}, {b} AS band_id, md5({cols}) AS band_hash FROM sigs"
        )
    union = " UNION ALL ".join(selects)
    return f"WITH sigs AS ({sig_sql}) {union}"


# --- SimHash -----------------------------------------------------------------------
# b-bit SimHash over whitespace words. Word w contributes +1/-1 to bit j from
# bit j of md5(w) (hex nibble decode via strpos on a fixed alphabet — portable).


def simhash(words: DataFrame, id_col: str, word_col: str, bits: int = 16) -> DataFrame:
    """words: (id, word) exploded -> (id, simhash). JVM-only expressions."""
    w = F.col(word_col)
    terms = []
    for j in range(bits):
        nib = F.expr(f"locate(substr(md5({word_col}), {1 + j // 4}, 1), '{HEX_ALPHABET}') - 1")
        bit = F.floor(nib / F.lit(1 << (j % 4))).cast("int") % F.lit(2)
        terms.append(F.sum(bit * F.lit(2) - F.lit(1)).alias(f"b{j}"))
    agg = words.groupBy(id_col).agg(*terms)
    sh = F.lit(0).cast("long")
    for j in range(bits):
        sh = sh + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return agg.select(F.col(id_col), sh.alias("simhash"))


def simhash_sql(word_sql: str, id_col: str, word_col: str, bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(2 * (CAST(floor((strpos('{HEX_ALPHABET}', substr(md5({word_col}), {1 + j // 4}, 1)) - 1) "
        f"/ {1 << (j % 4)}) AS INT) % 2) - 1) AS b{j}"
        for j in range(bits)
    )
    sh = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return (
        f"WITH words AS ({word_sql}), agg AS (SELECT {id_col}, {sums} FROM words GROUP BY {id_col}) "
        f"SELECT {id_col}, CAST({sh} AS BIGINT) AS simhash FROM agg"
    )


# --- language-ID heuristic ------------------------------------------------------
# Deterministic stopword-marker frequency; argmax with fixed tie-break order.

LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " das "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "zh": [" de ", " shi ", " bu "],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]


def _count_occurrences(text: Column, kw: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(kw), F.lit("")))) / F.lit(len(kw))


def lang_id(text: Column) -> Column:
    scores = {
        lang: sum((_count_occurrences(text, kw) for kw in kws), F.lit(0.0))
        for lang, kws in LANG_MARKERS.items()
    }
    best = F.lit(_LANG_ORDER[-1])
    best_score = scores[_LANG_ORDER[-1]]
    for lang in reversed(_LANG_ORDER[:-1]):
        cond = scores[lang] >= best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


def _count_occurrences_sql(text: str, kw: str) -> str:
    return f"((length({text}) - length(replace({text}, '{kw}', ''))) / {len(kw)})"


def lang_id_sql(text: str) -> str:
    score = {
        lang: "(" + " + ".join(_count_occurrences_sql(text, kw) for kw in kws) + ")"
        for lang, kws in LANG_MARKERS.items()
    }
    expr = f"'{_LANG_ORDER[-1]}'"
    score_expr = score[_LANG_ORDER[-1]]
    for lang in reversed(_LANG_ORDER[:-1]):
        cond = f"{score[lang]} >= {score_expr}"
        expr = f"(CASE WHEN {cond} THEN '{lang}' ELSE {expr} END)"
        score_expr = f"(CASE WHEN {cond} THEN {score[lang]} ELSE {score_expr} END)"
    return expr


# --- quality scoring --------------------------------------------------------------

_STOPWORDS = [" the ", " a ", " of ", " and ", " to "]
_PUNCT = [".", ",", "!", "?"]


def quality_score(text: Column) -> Column:
    """Length / punctuation / stopword composite in [0, ~2]."""
    n = F.length(text).cast("double")
    tokens = token_count(text).cast("double")
    stop = sum((_count_occurrences(text, s) for s in _STOPWORDS), F.lit(0.0))
    punct = sum((_count_occurrences(text, p) for p in _PUNCT), F.lit(0.0))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    stop_ratio = stop / F.greatest(tokens, F.lit(1.0))
    punct_ratio = punct / F.greatest(n, F.lit(1.0))
    return len_score + stop_ratio - punct_ratio


def quality_score_sql(text: str) -> str:
    n = f"CAST(length({text}) AS DOUBLE)"
    tokens = f"CAST({token_count_sql(text)} AS DOUBLE)"
    stop = "(" + " + ".join(_count_occurrences_sql(text, s) for s in _STOPWORDS) + ")"
    punct = "(" + " + ".join(_count_occurrences_sql(text, p) for p in _PUNCT) + ")"
    return (
        f"(least({n} / 500.0, 1.0) + {stop} / greatest({tokens}, 1.0)"
        f" - {punct} / greatest({n}, 1.0))"
    )


# --- document fingerprint (rolling window min-hash) --------------------------------


def fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """min over md5 of every char-k-gram — a winnowing-style fingerprint."""
    sh = explode_char_shingles(df.select(id_col, text_col), text_col, k)
    return sh.groupBy(id_col).agg(F.min(F.md5(F.col("shingle"))).alias("fingerprint"))


def fingerprint_sql(doc_table: str, id_col: str, text_col: str, k: int = 8) -> str:
    return (
        f"SELECT {id_col}, min(md5(shingle)) AS fingerprint FROM "
        f"({char_shingles_sql(doc_table, id_col, text_col, k)}) GROUP BY {id_col}"
    )
