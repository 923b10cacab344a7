"""Document-table operators: dedup, fingerprinting, similarity, text stats.

Every operator is defined ONCE in terms of shared constants
(normalization regex, shingle width, MinHash coefficients, SimHash
width, marker-word lists) and lowered twice: to a pure-built-in Spark
DataFrame plan and to DuckDB oracle SQL.  Shared constants guarantee
the two lowerings compute bit-identical intermediate hashes, so the
driver's value-hash comparison is exact even for the LSH operators
(the approximation itself is deterministic and replicated).

Scale notes (100 TB path):
* dedup_exact / fingerprint: one hash-aggregate — map-side combine,
  no skew (md5 keys are uniform).
* ngram_jaccard: inverted-index self-join on shingles (the sparse-join
  formulation); shingle document-frequency is the skew knob — a df cap
  (drop shingles with df > N) bounds the join fan-out; at the test
  vocab df(max)=25 so no cap is applied (no silent caps — a cap would
  change results and is left to the caller).
* minhash_lsh: signatures via one explode + hash-agg (k mins computed
  in a single groupBy), candidates via equi-join on band keys
  (shuffle on 16-byte keys), verification joins back only candidate
  pairs.  This is the textbook O(n·k) + candidates path.
* simhash_pairs: hamming<=D via the pigeonhole block trick — D+1
  blocks, one equi-join on (block, value), verify with
  bit_count(xor()) — exact (no recall loss).  A pair is kept only on
  the lowest block where both signatures agree, so it is emitted once
  and needs no DISTINCT (Manku et al., WWW 2007).  The documents are
  dealt round-robin over the task slots before the regex and md5 work.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# shared constants (single source of truth for BOTH lowerings)

SHINGLE_W = 3
MINHASH_K = 16
MINHASH_BANDS = 8  # 8 bands x 2 rows
MINHASH_ROWS = 2
MINHASH_P = 2147483647  # 2^31 - 1
HASH_HEX_LEN = 7  # 28-bit shingle/word hashes: a*h+b stays < 2^62
JACCARD_T = 0.2  # ngram_jaccard emission threshold
MINHASH_VERIFY_T = 0.7  # minhash candidate verification threshold
SIMHASH_BITS = 28
SIMHASH_HAM_D = 3  # simhash_pairs emits hamming <= D
ROUND_DP = 6

_rng = np.random.default_rng(20260816)
MINHASH_A = [int(x) for x in _rng.integers(1, MINHASH_P, MINHASH_K)]
MINHASH_B = [int(x) for x in _rng.integers(0, MINHASH_P, MINHASH_K)]

LANGS = ["en", "es", "fr", "de", "zh"]  # tie-break order
MARKERS = {
    "en": ["the", "a", "fast", "slow", "key"],
    "es": ["data", "query", "row", "table"],
    "fr": ["scan", "merge", "part"],
    "de": ["hash", "batch", "spark"],
    "zh": ["window", "line", "sort"],
}
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# ---------------------------------------------------------------------------
# lowering helpers — SQL text fragments and Spark column builders kept
# side by side so drift is visible in review.

# normalized text: lower, non-alnum -> space, squeeze spaces, trim
_SQL_NORM = "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9 ]', ' ', 'g'), '[ ]+', ' ', 'g'))"
_SQL_WORDS = f"string_split({_SQL_NORM}, ' ')"
# trigram shingles over the word list (1-indexed lists in DuckDB)
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len({w}) - " + str(SHINGLE_W - 2) + "), "
    "i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2]))"
)
# 28-bit md5-based hash of a string
_SQL_H = "('0x' || substr(md5({s}), 1, " + str(HASH_HEX_LEN) + "))::BIGINT"


def _spark_norm(col):
    from pyspark.sql import functions as F

    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), "[ ]+", " ")
    )


_SPARK_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(0, size({w}) - " + str(SHINGLE_W) + "), "
    "i -> concat_ws(' ', {w}[i], {w}[i+1], {w}[i+2])))"
)
_SPARK_H_EXPR = "cast(conv(substr(md5({s}), 1, " + str(HASH_HEX_LEN) + "), 16, 10) as bigint)"


def _r6(c):
    # floor(x*1e6 + 0.5)/1e6 — identical double arithmetic to the SQL oracle
    from pyspark.sql import functions as F

    return F.floor(c * 1000000.0 + 0.5) / 1000000.0


def _read_docs(spark, sf_dir):
    from ..session import read_parquet

    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _words_df(spark, sf_dir):
    """(doc_id, w: array<string>) with the split MATERIALIZED behind a
    shuffle barrier.  Without it, Catalyst's projection collapsing
    inlines the split+regexp expression into every `w[i]` access of the
    shingle transform — O(words^2) regex evaluations per document
    (measured 29x slower at sf0.1)."""
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir)
    # repartition BEFORE the projection: the small-SF parquet is a single
    # split, so projecting first runs every regex in ONE task; shuffling
    # the raw (doc_id, text) rows out to defaultParallelism partitions
    # first makes the normalize+split stage data-parallel (the Project
    # stays above the Exchange — verified via explain).  cache() is the
    # materialization barrier: without it the optimizer collapses the
    # projection into every downstream `w[i]` access and the regex work
    # goes quadratic in words-per-doc.
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    from ._mat import materialize

    return materialize(
        spark, sf_dir, "words",
        lambda: d.repartition(n_part, "doc_id").select(
            "doc_id", F.split(F.expr(_spark_norm_sql_spark()), " ").alias("w")
        ),
    )


def _shingle_list_df(spark, sf_dir):
    """(doc_id, sh: array<string>) — DISTINCT trigram shingles.

    cache(): the shingle transform is read 3x per minhash query (the
    explode side + both verification join sides) and by every
    jaccard-family entry in a session; at production scale this is the
    shingle table you would materialize once for the whole dedup pass."""
    from pyspark.sql import functions as F

    from ._mat import materialize

    return materialize(
        spark, sf_dir, "shingles",
        lambda: _words_df(spark, sf_dir).select(
            "doc_id", F.expr(_SPARK_SHINGLES_EXPR.format(w="w")).alias("sh")
        ),
    )


# ---------------------------------------------------------------------------
# 1. exact dedup: md5 of raw text; keep_id = min doc_id of the group


def q_dedup_exact(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir).select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    return d.select(
        "doc_id",
        "fp",
        F.min("doc_id").over(w).alias("keep_id"),
        (F.count("*").over(w) > 1).alias("is_dup_group"),
    )


SQL_DEDUP_EXACT = """
SELECT doc_id, md5(text) AS fp,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
       COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup_group
FROM documents
"""

# ---------------------------------------------------------------------------
# 2. fingerprint dedup key: md5 of sorted distinct normalized words
#    (the OpenRefine "fingerprint" method — order/punct/case-insensitive)


def q_fingerprint(spark, sf_dir):
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir)
    words = F.split(_spark_norm(F.col("text")), " ")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(words))))
    return d.select("doc_id", fp.alias("fp"))


SQL_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_SQL_WORDS.format(t='text')})), ' ')) AS fp
FROM documents
"""

# ---------------------------------------------------------------------------
# 3. n-gram Jaccard near-dup pairs via inverted-index self-join


def q_ngram_jaccard(spark, sf_dir, max_df: int | None = None):
    """Inverted-index near-dup join.  `max_df` engages the documented
    fan-out bound: shingles appearing in more than `max_df` documents
    are dropped BEFORE the self-join (a stopword-like shingle otherwise
    makes the join quadratic at 100 TB).  The cap is never silent — the
    dropped-shingle count is computed and logged — and it changes the
    result (jaccard is over surviving shingles), so the capped variant
    is a separate queries() entry whose oracle replicates the cap."""
    import logging

    from pyspark.sql import functions as F

    from ._mat import materialize

    sh = _shingle_list_df(spark, sf_dir)
    # both join sides read the inverted index: materialize it once
    # (registry-keyed, so the capped and uncapped entries share it)
    ex = materialize(
        spark, sf_dir, "inv_index",
        lambda: sh.select("doc_id", F.explode("sh").alias("s")),
    )
    if max_df is not None:
        # ONE shingle-df aggregate, materialized via localCheckpoint: the
        # keep-filter join, and the never-silent drop-count log all read
        # the same tiny checkpointed table (round 2 ran a separate eager
        # count() job over the full index for the log line alone), and
        # its blocks are freed by the ContextCleaner instead of leaking a
        # session-lifetime cache entry.
        df_tbl = ex.groupBy("s").agg(F.count("*").alias("df")).localCheckpoint()
        n_dropped = df_tbl.filter(F.col("df") > max_df).count()
        logging.getLogger(__name__).info(
            "ngram_jaccard df-cap: dropping %d shingles with df > %d",
            n_dropped, max_df,
        )
        # filtered index, materialized once for its three readers (both
        # self-join sides + the per-doc size aggregate)
        kept = (
            ex.join(df_tbl.filter(F.col("df") <= max_df).select("s"), "s")
            .select("doc_id", "s")
            .localCheckpoint()
        )
        sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
        ex = kept
    else:
        sizes = sh.select("doc_id", F.size("sh").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_id_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("n", "nb")
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", _r6(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


def _spark_norm_sql_spark():
    # the same normalization as _spark_norm, as a Spark-SQL string (for F.expr)
    return "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), '[ ]+', ' '))"


_SQL_SHINGLE_CTE = f"""
WITH t AS (SELECT doc_id, {_SQL_WORDS.format(t='text')} AS w FROM documents),
sh_list AS (SELECT doc_id, {_SQL_SHINGLES.format(w='w')} AS sh FROM t),
sh AS (SELECT doc_id, unnest(sh) AS s FROM sh_list),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh_list)
"""

SQL_NGRAM_JACCARD = (
    _SQL_SHINGLE_CTE
    + f"""
, cand AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM cand
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) / 1000000 >= {JACCARD_T}
"""
)

# 3b. df-capped variant: the 100-TB fan-out bound as a first-class entry.
# A stopword-like shingle with document frequency f contributes O(f^2)
# candidate rows; capping df bounds the worst shingle's fan-out at
# max_df^2.  The literal cap is shared by both lowerings so the oracle
# is exact.

NGRAM_MAX_DF = 10  # test-vocab df(max)=25, so the cap genuinely drops shingles


def q_ngram_jaccard_capped(spark, sf_dir):
    return q_ngram_jaccard(spark, sf_dir, max_df=NGRAM_MAX_DF)


SQL_NGRAM_JACCARD_CAPPED = (
    _SQL_SHINGLE_CTE
    + f"""
, df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN df ON sh.s = df.s WHERE df.df <= {NGRAM_MAX_DF}),
ksizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) / 1000000 AS jaccard
FROM cand
JOIN ksizes sa ON sa.doc_id = doc_id_a
JOIN ksizes sb ON sb.doc_id = doc_id_b
WHERE floor((c * 1.0 / (sa.n + sb.n - c)) * 1000000 + 0.5) / 1000000 >= {JACCARD_T}
"""
)

# ---------------------------------------------------------------------------
# 4. MinHash + LSH banding: identical deterministic signatures both sides


def q_minhash_lsh(spark, sf_dir):
    from pyspark.sql import functions as F

    sh_list = _shingle_list_df(spark, sf_dir)
    ex = sh_list.select("doc_id", F.explode("sh").alias("sh_el")).select(
        "doc_id", F.expr(_SPARK_H_EXPR.format(s="sh_el")).alias("h")
    )
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)).alias(
            f"m{j}"
        )
        for j in range(MINHASH_K)
    ]
    sigs = ex.groupBy("doc_id").agg(*aggs)
    band_structs = []
    for b in range(MINHASH_BANDS):
        cols = [f"m{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws(",", *cols).alias("bkey"))
        )
    banded = sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b"))
        .distinct()
    )
    la = sh_list.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    lb = sh_list.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(la, "doc_id_a")
        .join(lb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", _r6(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_T)
    )


def _sql_minhash() -> str:
    h = _SQL_H.format(s="s")
    mins = ", ".join(
        f"MIN(({MINHASH_A[j]} * {h} + {MINHASH_B[j]}) % {MINHASH_P}) AS m{j}"
        for j in range(MINHASH_K)
    )
    bands = []
    for b in range(MINHASH_BANDS):
        cols = [f"m{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)]
        key = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        bands.append(f"SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs")
    banded = "\nUNION ALL\n".join(bands)
    return (
        _SQL_SHINGLE_CTE
        + f"""
, sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
SELECT doc_id_a, doc_id_b,
       floor((len(list_intersect(la.sh, lb.sh)) * 1.0 /
             (len(la.sh) + len(lb.sh) - len(list_intersect(la.sh, lb.sh)))) * 1000000 + 0.5) / 1000000 AS jaccard
FROM cand
JOIN sh_list la ON la.doc_id = doc_id_a
JOIN sh_list lb ON lb.doc_id = doc_id_b
WHERE floor((len(list_intersect(la.sh, lb.sh)) * 1.0 /
            (len(la.sh) + len(lb.sh) - len(list_intersect(la.sh, lb.sh)))) * 1000000 + 0.5) / 1000000 >= {MINHASH_VERIFY_T}
"""
    )


SQL_MINHASH_LSH = _sql_minhash()

# ---------------------------------------------------------------------------
# 5. SimHash signature (28-bit, md5 word hashes, occurrence-weighted)


# Spark-SQL text of the signature, beside _sql_simhash_core's DuckDB
# text: the 28 bit sums as one struct aggregate, the signature as one
# projection (two expressions, not ~200 Column calls over Py4J)
_SPARK_SIMHASH_SUMS = "struct({}) AS b".format(", ".join(
    f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
))
_SPARK_SIMHASH = "CAST({} AS BIGINT) AS simhash".format(" + ".join(
    f"(CASE WHEN b.b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
))


def q_simhash(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..batch import cpu_parallelism

    d = _read_docs(spark, sf_dir)
    # the word stage (regex, md5, 28 bit sums) is CPU-bound over few
    # bytes and a small table is one split: deal the documents round-robin
    # over the task slots first (batch.cpu_parallelism).  Not hashed on
    # doc_id: the aggregate would then need no exchange of its own, and
    # the broadcast and the probe side of simhash_pairs' self-join,
    # which share that one exchange but not the work above it, would
    # each run the word stage
    words = d.repartition(cpu_parallelism(d)).selectExpr(
        "doc_id", f"explode(split({_spark_norm_sql_spark()}, ' ')) AS w"
    ).selectExpr("doc_id", f"{_SPARK_H_EXPR.format(s='w')} AS h")
    agg = words.groupBy("doc_id").agg(F.expr(_SPARK_SIMHASH_SUMS))
    return agg.selectExpr("doc_id", _SPARK_SIMHASH)


def _sql_simhash_core() -> str:
    h = _SQL_H.format(s="w")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sim = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS))
    return f"""
WITH words AS (SELECT doc_id, unnest({_SQL_WORDS.format(t='text')}) AS w FROM documents),
agg AS (SELECT doc_id, {bit_sums} FROM words GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM agg
"""


SQL_SIMHASH = _sql_simhash_core()

# 5b. simhash near-dup pairs: hamming <= D via pigeonhole blocks (exact)


def q_simhash_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    nblocks = SIMHASH_HAM_D + 1
    width = SIMHASH_BITS // nblocks
    blocks = ", ".join(
        f"named_struct('blk', {k}, 'bval', shiftright(simhash, {k * width}) & {(1 << width) - 1})"
        for k in range(nblocks)
    )
    # a pair is kept only on the LOWEST block where the two signatures
    # agree (every lower block differs), so each pair is emitted once
    # and no DISTINCT is needed
    lowest = " AND ".join(
        f"(x.blk <= {k} OR ((x.simhash ^ y.simhash) >> {k * width}) & {(1 << width) - 1} != 0)"
        for k in range(nblocks - 1)
    )
    e = q_simhash(spark, sf_dir).selectExpr(
        "doc_id", "simhash", f"explode(array({blocks})) AS b"
    ).selectExpr("doc_id", "simhash", "b.blk AS blk", "b.bval AS bval")
    return (
        e.alias("x").join(
            e.alias("y"),
            F.expr(f"x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id AND {lowest}"),
        )
        .selectExpr(
            "x.doc_id AS doc_id_a",
            "y.doc_id AS doc_id_b",
            "CAST(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming",
        )
        .filter(f"hamming <= {SIMHASH_HAM_D}")
    )


# oracle: brute-force hamming (equivalent because the block trick is exact)
SQL_SIMHASH_PAIRS = f"""
WITH s AS ({_sql_simhash_core()})
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_D}
"""

# ---------------------------------------------------------------------------
# 6. language-ID: marker-word occurrence scoring, fixed tie order


def q_langid(spark, sf_dir):
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir)
    w = f"split({_spark_norm_sql_spark()}, ' ')"
    scores = {
        lang: F.expr(
            f"size(filter({w}, x -> x IN ({', '.join(repr(m) for m in MARKERS[lang])})))"
        )
        for lang in LANGS
    }
    # deterministic argmax: first lang (in LANGS order) with max score
    mx = None
    for lang in LANGS:
        mx = scores[lang] if mx is None else F.greatest(mx, scores[lang])
    pred = F.lit(LANGS[-1])
    for lang in reversed(LANGS[:-1]):  # earliest lang hitting the max wins
        pred = F.when(scores[lang] == mx, F.lit(lang)).otherwise(pred)
    return d.select("doc_id", "lang", pred.alias("pred_lang"), mx.cast("int").alias("score"))


def _sql_langid() -> str:
    w = _SQL_WORDS.format(t="text")
    score = {
        lang: f"len(list_filter({w}, x -> x IN ({', '.join(repr(m) for m in MARKERS[lang])})))"
        for lang in LANGS
    }
    mx = f"greatest({', '.join(score[l] for l in LANGS)})"
    pred = f"'{LANGS[-1]}'"
    for lang in reversed(LANGS[:-1]):
        pred = f"CASE WHEN {score[lang]} = {mx} THEN '{lang}' ELSE {pred} END"
    return f"""
SELECT doc_id, lang, {pred} AS pred_lang, CAST({mx} AS INT) AS score
FROM documents
"""


SQL_LANGID = _sql_langid()

# ---------------------------------------------------------------------------
# 7. quality scoring: length / word-length / stopword-ratio heuristics


def q_quality(spark, sf_dir):
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir)
    w = f"split({_spark_norm_sql_spark()}, ' ')"
    n_words = F.expr(f"size({w})")
    n_chars = F.length(F.regexp_replace(_spark_norm(F.col("text")), " ", ""))
    awl = _r6(n_chars / n_words)
    stop = F.expr(
        f"size(filter({w}, x -> x IN ({', '.join(repr(s) for s in STOPWORDS)})))"
    )
    ratio = _r6(stop / n_words)
    score = _r6(
        0.4 * F.least(n_words / F.lit(50.0), F.lit(1.0))
        + 0.3 * (1.0 - stop / n_words)
        + 0.3 * F.least(n_chars / n_words / F.lit(8.0), F.lit(1.0))
    )
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        awl.alias("avg_word_len"),
        ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def _sql_quality() -> str:
    w = _SQL_WORDS.format(t="text")
    norm = _SQL_NORM.format(t="text")
    n_words = f"len({w})"
    n_chars = f"length(replace({norm}, ' ', ''))"
    stop = f"len(list_filter({w}, x -> x IN ({', '.join(repr(s) for s in STOPWORDS)})))"
    return f"""
SELECT doc_id,
       CAST({n_words} AS INT) AS n_words,
       floor(({n_chars} * 1.0 / {n_words}) * 1000000 + 0.5) / 1000000 AS avg_word_len,
       floor(({stop} * 1.0 / {n_words}) * 1000000 + 0.5) / 1000000 AS stopword_ratio,
       floor((0.4 * least({n_words} / 50.0, 1.0)
           + 0.3 * (1.0 - {stop} * 1.0 / {n_words})
           + 0.3 * least({n_chars} * 1.0 / {n_words} / 8.0, 1.0)) * 1000000 + 0.5) / 1000000 AS quality_score
FROM documents
"""


SQL_QUALITY = _sql_quality()

# ---------------------------------------------------------------------------
# 8. token counting: whitespace split vs BPE-ish regex


_TOKEN_RE = "[a-z0-9]+"


def q_tokens(spark, sf_dir):
    from pyspark.sql import functions as F

    d = _read_docs(spark, sf_dir)
    ws = F.size(F.split(F.col("text"), " "))
    re_t = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_RE), F.lit(0)))
    return d.select(
        "doc_id", ws.cast("int").alias("ws_tokens"), re_t.cast("int").alias("re_tokens")
    )


SQL_TOKENS = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS INT) AS re_tokens
FROM documents
"""

# ---------------------------------------------------------------------------

QUERIES = {
    "doc_dedup_exact": q_dedup_exact,
    "doc_fingerprint": q_fingerprint,
    "doc_ngram_jaccard": q_ngram_jaccard,
    "doc_ngram_jaccard_capped": q_ngram_jaccard_capped,
    "doc_minhash_lsh": q_minhash_lsh,
    "doc_simhash": q_simhash,
    "doc_simhash_pairs": q_simhash_pairs,
    "doc_langid": q_langid,
    "doc_quality": q_quality,
    "doc_tokens": q_tokens,
}

ORACLES = {
    "doc_dedup_exact": SQL_DEDUP_EXACT,
    "doc_fingerprint": SQL_FINGERPRINT,
    "doc_ngram_jaccard": SQL_NGRAM_JACCARD,
    "doc_ngram_jaccard_capped": SQL_NGRAM_JACCARD_CAPPED,
    "doc_minhash_lsh": SQL_MINHASH_LSH,
    "doc_simhash": SQL_SIMHASH,
    "doc_simhash_pairs": SQL_SIMHASH_PAIRS,
    "doc_langid": SQL_LANGID,
    "doc_quality": SQL_QUALITY,
    "doc_tokens": SQL_TOKENS,
}


# ---------------------------------------------------------------------------
# 9. winnowing fingerprints (Schleimer/Wilkerson/Aiken rolling-hash
#    selection): per doc, hash the ORDERED trigram shingles, slide a
#    window of WINNOW_W consecutive hashes, keep the min of each window,
#    emit the distinct selected hashes.  Standard near-dup sketch whose
#    size adapts to document length; both lowerings share the md5 hash
#    and the same window-min formulation (Spark window function ≡ DuckDB
#    window function), so the oracle is exact.

WINNOW_W = 4


def q_winnow(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sh_expr = (
        "transform(sequence(0, size(w) - " + str(SHINGLE_W) + "), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )  # ordered, NOT distinct
    ex = _words_df(spark, sf_dir).select(
        "doc_id", F.posexplode(F.expr(sh_expr)).alias("i", "s")
    ).select(
        "doc_id", "i", F.expr(_SPARK_H_EXPR.format(s="s")).alias("h")
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    cnt = Window.partitionBy("doc_id")
    sel = (
        ex.withColumn("wmin", F.min("h").over(win))
        .withColumn("n", F.count("*").over(cnt))
        .filter(F.col("i") <= F.col("n") - WINNOW_W)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )
    return sel


_SQL_WINNOW_SH = (
    "list_transform(range(1, len({w}) - " + str(SHINGLE_W - 2) + "), "
    "i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2])"
)

SQL_WINNOW = f"""
WITH t AS (SELECT doc_id, {_SQL_WINNOW_SH.format(w=_SQL_WORDS.format(t='text'))} AS sh FROM documents),
ex AS (SELECT doc_id, generate_subscripts(sh, 1) - 1 AS i,
              {_SQL_H.format(s='unnest(sh)')} AS h FROM t),
win AS (SELECT doc_id, i,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
        FROM ex)
SELECT DISTINCT doc_id, wmin AS fp
FROM win WHERE i <= n - {WINNOW_W}
"""

QUERIES["doc_winnow"] = q_winnow
ORACLES["doc_winnow"] = SQL_WINNOW


# ---------------------------------------------------------------------------
# 10. near-duplicate CLUSTERS: connected components over the SimHash
#     pair graph (transitive closure of "hamming <= D"), via alternating
#     large-star / small-star contraction (Kiveris et al., "Connected
#     Components in MapReduce and Beyond", SoCC'14).  This is the step a
#     real dedup pass needs beyond pairs: A~B and B~C must collapse into
#     ONE keep-group even when A!~C, which the single-hop min-id
#     canonicalization (emb_cosine_dedup) deliberately does not do.
#
#     Scale shape: every round is one window-min per star phase over
#     the EDGE set (near-dup pairs, orders of magnitude smaller than
#     the corpus) -- a single shuffle on the node id, no groupBy+join
#     re-shuffle -- and the alternation provably converges in O(log n)
#     rounds: no path-length-bounded label propagation, no driver-side
#     union-find.  Each round ends in an eager localCheckpoint so the
#     loop's lineage (and the convergence probe) stays flat instead of
#     re-running all prior rounds.  Convergence is detected by checking
#     the DISJOINT star-forest invariant itself, which is exactly the
#     property the final root-extraction step relies on -- two facts
#     over the canonical contracted edges (center = u side, leaf = v
#     side, since the root is the component min and u < v):
#       (a) no node is both a center and a leaf, AND
#       (b) every leaf has exactly ONE center (a leaf shared by two
#           centers still bridges two stars of one component; root
#           extraction would wrongly split it -- e.g. edges
#           {(0,2),(0,4),(1,2),(1,3)} pass (a) alone but are ONE
#           component).
#     Both are one combined aggregate + limit(1) over the edge set.
#     (a) alone is NOT sufficient; (a)+(b) is verified exhaustively
#     over all graphs n<=6 in tests/test_docs_cc.py.  This is exact
#     (no delta diff, no checksum) and typically fires one round
#     earlier than an edge-set equality probe would.


CC_MAX_ROUNDS = 30  # >= O(log^2 n) for any realistic edge set; loud failure


def _cc_components(edges):
    """edges: DataFrame(u:long, v:long) undirected, u < v, distinct.
    Returns DataFrame(doc_id:long, cluster_id:long) for every node that
    appears in an edge; cluster_id = min doc_id of its component."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def sym(e):
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def canon(e):
        return (
            e.select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def star(e, large, dedup):
        # min-neighbor via a whole-partition window min: ONE shuffle of
        # the symmetric edges on u (groupBy+join would shuffle twice).
        s = sym(e)
        j = s.withColumn(
            "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        )
        if large:
            out = j.filter(F.col("v") > F.col("u")).select("v", "m")
        else:
            out = j.filter(F.col("v") <= F.col("u")).select("v", "m").union(
                j.select(F.col("u").alias("v"), "m").dropDuplicates(["v", "m"])
            )
        r = out.select(
            F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
        ).filter(F.col("u") != F.col("v"))
        # duplicates between the two stars of one round are harmless
        # (min is idempotent); dedup only at the round boundary
        return r.distinct() if dedup else r

    e = canon(edges).localCheckpoint()
    for _ in range(CC_MAX_ROUNDS):
        e = star(star(e, large=True, dedup=False), large=False, dedup=True
                 ).localCheckpoint()
        # fixpoint iff the canonical edge set is a DISJOINT star forest:
        # (a) no node is both a center (u side) and a leaf (v side), and
        # (b) no leaf has two centers (count as leaf > 1).  One combined
        # aggregate over the node roles; a node violates iff it appears
        # as a leaf more than once, or as both leaf and center.
        roles = e.select(F.col("u").alias("n"), F.lit(0).alias("leaf")).union(
            e.select(F.col("v").alias("n"), F.lit(1).alias("leaf"))
        )
        converged = (
            roles.groupBy("n")
            .agg(F.sum("leaf").alias("l"), F.count(F.lit(1)).alias("c"))
            .filter(
                (F.col("l") > 1)
                | ((F.col("l") >= 1) & (F.col("c") > F.col("l")))
            )
            .limit(1)
            .count()
            == 0
        )
        if converged:
            break
    else:
        raise RuntimeError("CC star contraction did not converge")
    # fixpoint edge set is a star per component: min-neighbor IS the root
    s = sym(e)
    return (
        s.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("doc_id"), F.least("mv", "u").alias("cluster_id")
        )
    )


def q_dedup_cc(spark, sf_dir):
    from pyspark.sql import functions as F

    edges = q_simhash_pairs(spark, sf_dir).select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    )
    comp = _cc_components(edges)
    docs = _read_docs(spark, sf_dir).select("doc_id")
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").cast("long").alias("cluster_id"),
        (F.coalesce("cluster_id", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


# oracle: exact transitive closure by recursive CTE (per-component
# reachability; near-dup components are tiny at oracle scale)
SQL_DEDUP_CC = f"""
WITH RECURSIVE s AS ({_sql_simhash_core()}),
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_D}),
edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS doc_id, MIN(v) AS mn FROM reach GROUP BY u)
SELECT d.doc_id,
       CAST(COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id,
       (COALESCE(LEAST(c.mn, d.doc_id), d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""

QUERIES["doc_dedup_cc"] = q_dedup_cc
ORACLES["doc_dedup_cc"] = SQL_DEDUP_CC
