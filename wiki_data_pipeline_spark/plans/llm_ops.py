"""LLM-training-data pipeline operators (Phase 5, per BASELINE.json):
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + IVF), and text analysis.

Cross-engine determinism: every hash is md5 (identical lowercase hex in
Spark and DuckDB); hex→int via Spark ``conv`` ≡ DuckDB ``'0x…'::BIGINT``;
MinHash ordering uses the md5 hex strings themselves (lexicographic min
is a valid minhash — no integer conversion needed); cosine scores are
rounded to 6 decimals on both sides and ranked on the rounded value
with id tie-breaks.

Scale design (100 TB): every dedup op is shuffle-on-signature — no
pairwise O(n²) anywhere except *within* LSH/blocking buckets; skewed
buckets (stop-shingle style) are the known hazard, mitigated by
distinct-per-doc shingling + AQE skew handling; see SCALE.md.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wiki_data_pipeline_spark.functions.vectors import as_double, cosine
from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.operators.pin import pin
from wiki_data_pipeline_spark.plans.registry import query

# ---------------------------------------------------------------------------
# Shared dedup corpus: the documents table + synthesized exact and
# near duplicates (the fixture has none — FIXTURES.md §B mapping).
# ---------------------------------------------------------------------------

_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || ' zz yy xx qq' AS text
    FROM documents WHERE doc_id >= 50 AND doc_id < 100
"""


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx qq")).alias("text"),
    )
    return base.unionAll(exact).unionAll(near)


# Word 3-gram shingles, distinct per doc.
_SHINGLE_SQL = """
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(tokens) - 2),
          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
      FROM tok WHERE len(tokens) >= 3
    )
"""


# Conditional fan-out before compute-heavy narrow stages: repartitions
# ONLY an under-partitioned input (fixture tables are single parquet
# files -> one split); a pre-split 100 TB scan passes through with no
# exchange. Shared definition + full rationale: operators/spread.py
# (r13, verdict item 1 — the old unconditional repartition here was a
# full extra shuffle of the corpus at scale, not the "no-op" its
# docstring claimed).
from ..operators.spread import spread as _spread  # noqa: E402


def _shingles(corpus: DataFrame) -> DataFrame:
    """doc_id → exploded distinct word-3-gram shingles (the shared
    operator — operators/dedup.py word_shingles — so the MinHash CTE
    stack, shingle-novelty, and the pairwise-overlap queries all
    tokenize identically, and the cross-engine fuzz exercises the same
    code path)."""
    from ..operators.dedup import word_shingles

    return word_shingles(corpus, 3)


# ---------------------------------------------------------------------------
# Exact dedup: content-hash groupBy.
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT
      md5(text)            AS content_hash,
      CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
      count(*)             AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash aggregation (generalizes reference
    F9 title-dedup, src/queue_manager.py:52-58, to content identity).
    groupBy(md5) — one shuffle on the hash, min() picks the canonical
    row. At 100 TB: hash is uniform → no skew; equivalent to
    dropDuplicates() but keeps group size for reporting."""
    corpus = _dedup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup.
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 2  # → 4 bands
_MH_PRIME = 4294967311  # smallest prime > 2^32


# CTE chain shared by the minhash-pairs oracle and the connected-
# components oracle built on top of it.
_MINHASH_CTES = f"""corpus AS ({_CORPUS_SQL}),
    {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
        ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
        ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {', '.join(f"min((h1 + {s} * h2) % {_MH_PRIME}) AS mh{s}" for s in range(_N_HASHES))}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band_idx, mh{2*b}::VARCHAR || ',' || mh{2*b+1}::VARCHAR AS sig FROM sig"
        for b in range(_N_HASHES // _BAND_SIZE))}
    )"""


def _minhash_sigs(corpus: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) MinHash signature table for a (doc_id, text)
    corpus — the narrow per-doc stage under ``_minhash_bands``, also
    consumed directly by the estimator-calibration eval
    (``pipeline_ops.dedup_minhash_calibration``), which compares
    signature-agreement Jaccard estimates against exact set Jaccard.

    One definition: delegates to operators/dedup.py
    ``minhash_signatures`` (r11 verdict item 5 — the signature stage
    shared by the LSH pair pipeline, the calibration eval, and the
    keep-best cluster composition), parameterized by this module's
    band constants."""
    from ..operators.dedup import minhash_signatures

    return minhash_signatures(corpus, n_hashes=_N_HASHES, prime=_MH_PRIME)


def _bands_from_sigs(sig: DataFrame) -> DataFrame:
    """(doc_id, band_idx, sig) LSH band table derived from an ALREADY
    BUILT signature frame — split out so callers that need both the
    signatures and the bands (calibration) can derive the bands from
    one materialized signature exchange instead of recomputing the
    md5/shingle map per consumption."""
    band_arr = F.array(
        *[
            F.concat_ws(
                ",", F.col(f"mh{2*b}").cast("string"), F.col(f"mh{2*b+1}").cast("string")
            )
            for b in range(_N_HASHES // _BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_arr).alias("band_idx", "sig"))


def _minhash_bands(corpus: DataFrame) -> DataFrame:
    """(doc_id, band_idx, sig) LSH band table for a (doc_id, text)
    corpus — the narrow signature stage shared by the full-corpus pair
    expansion (``minhash_lsh_pairs``) and the cross-batch incremental
    probe (``dedup_incremental_minhash``). At scale this is the table
    a production pipeline PERSISTS (bucketed by (band_idx, sig)) so
    ingest batches never recompute the corpus side."""
    return _bands_from_sigs(_minhash_sigs(corpus))


def minhash_lsh_pairs(
    corpus: DataFrame,
    max_bucket_size: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH over a
    (doc_id, text) corpus — the reusable core behind the
    ``dedup_minhash_lsh`` query.

    ``max_bucket_size`` is the production skew guard: a band bucket
    with B members expands to B·(B-1)/2 pairs, so one pathological
    bucket (boilerplate-heavy crawl, stop-shingle collisions) can
    dominate the whole job. When set, each bucket's sorted member list
    is truncated to the first K ids (``slice(ids, 1, K)`` — stable,
    deterministic) BEFORE pair expansion. Truncation is never silent:
    pass an ``Observation`` and read ``capped_buckets`` /
    ``dropped_docs`` after the first action on the result — both are
    computed on the write path, no extra job. The default (None) is
    exact and oracle-checked at fixture scale."""
    return pairs_from_bands(
        _minhash_bands(corpus),
        max_bucket_size=max_bucket_size,
        observation=observation,
    )


def pairs_from_bands(
    bands: DataFrame,
    max_bucket_size: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Bucket-join pair expansion over an ALREADY BUILT band table —
    the second half of :func:`minhash_lsh_pairs`, split out so callers
    holding a materialized signature/band frame (calibration) reuse it
    instead of recomputing the md5/shingle map."""
    buckets = (
        bands.groupBy("band_idx", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        over = F.size("ids") - max_bucket_size
        if observation is not None:
            buckets = buckets.observe(
                observation,
                F.sum((over > 0).cast("long")).alias("capped_buckets"),
                F.sum(F.greatest(over, F.lit(0))).alias("dropped_docs"),
            )
        buckets = buckets.withColumn("ids", F.slice("ids", 1, max_bucket_size))
    # all (i < j) pairs within each bucket via nested higher-order fns
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH:
    word-3-gram shingles → ONE md5 per shingle split into two 32-bit
    halves → 8 minhashes by Kirsch-Mitzenmacher double hashing
    (h_i = (h1 + i·h2) mod p, a valid universal family — one hash
    computation instead of 8 salted ones, and integer min-aggregation
    instead of string) → 4 bands of 2 → docs sharing any band bucket
    pair up.

    Scale path: the signature stage is fully NARROW — shingling,
    hashing, and the 8 mins are higher-order array expressions per doc
    (md5 inside transform, array_min per hash function), so the
    exploded shingle set is never shuffled (the groupBy(doc_id)
    min-aggregate formulation shuffles 2 longs × every shingle; this
    shuffles nothing until banding). The hash-pair array materializes
    in its own projection and is referenced by all 8 mins —
    CollapseProject keeps non-cheap multi-referenced expressions
    un-inlined, so each shingle is md5'd exactly once (verified: one
    `md5` in the plan). The only shuffle is (band, signature);
    candidate pairs come from within-bucket pair expansion over
    collect_list (buckets are duplicate-group-sized by construction,
    so the in-bucket expansion is tiny; a self-join formulation would
    rescan the whole signature table per side). Band-bucket skew (a
    bucket with B docs → B² pairs) is the classic hazard;
    distinct-per-doc shingles + uniform md5 keep buckets small, and
    ``minhash_lsh_pairs(max_bucket_size=K, observation=obs)`` is the
    production cap for pathological corpora (observed, never silent;
    unbounded here so the oracle stays exact)."""
    return minhash_lsh_pairs(_dedup_corpus(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash fingerprints.
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(_SIMHASH_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM corpus
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok
    ),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: distinct unigram tokens → 32-bit
    md5-derived hash → per-bit ±1 vote sums → sign vector recomposed to
    a single BIGINT. Near-dups have small Hamming distance; equal
    simhash = strong near-dup signal (pairing = groupBy(simhash),
    banding over bit-slices generalizes it).

    One explode + one groupBy(doc_id). The 32 per-bit vote counters
    are PACKED four-per-long into 8 aggregate columns (16-bit lanes):
    per token, lane k of packed column g accumulates bit ``4g+k`` of
    the hash; summing the packed longs sums all four lanes at once with
    no cross-lane carries while every per-doc count stays < 2^16
    (fixture max is 31 distinct tokens/doc; a 100 TB corpus with docs
    near 65k distinct tokens would move to 20-bit lanes / 3 per long).
    Votes decompose after the aggregate: bit j set ⟺ 2·cnt_j > n.
    Packing shrinks the partial-aggregate row from 32 sum columns to
    8+count — ~3.5× fewer shuffle bytes per doc for the map-side
    partials, which is the term that grows with corpus size (local
    fixture wall-clock is flat; the fixture is one row group). Same
    result, same oracle."""
    return _simhash_from(_dedup_corpus(spark, sf_dir))


def _simhash_from(corpus: DataFrame) -> DataFrame:
    """SimHash signature stage over an arbitrary (doc_id, text) corpus
    frame — the body of ``dedup_simhash`` (see its docstring for the
    packed-lane design). Split out so composites that only need
    signatures for a SUBSET of documents (e.g. the Hamming histogram's
    candidate-pair participants) can push their row filter BELOW the
    tokenize/explode/aggregate work instead of fingerprinting the whole
    corpus and discarding most of it in the join."""
    tok = _spread(corpus).select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).alias(
            "token"
        ),
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    hashed = tok.select("doc_id", h.alias("h"))
    lanes_per_long = 4  # 16-bit lanes
    n_groups = _SIMHASH_BITS // lanes_per_long
    packed = [
        reduce(
            Column.__add__,
            [
                F.shiftleft(
                    F.shiftright(F.col("h"), g * lanes_per_long + k).bitwiseAND(
                        F.lit(1)
                    ),
                    16 * k,
                )
                for k in range(lanes_per_long)
            ],
        ).alias(f"p{g}")
        for g in range(n_groups)
    ]
    votes = hashed.select("doc_id", *packed).groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(f"p{g}").alias(f"s{g}") for g in range(n_groups)],
    )

    def cnt(j: int) -> Column:
        g, k = divmod(j, lanes_per_long)
        return F.shiftright(F.col(f"s{g}"), 16 * k).bitwiseAND(F.lit(0xFFFF))

    simhash = reduce(
        Column.__add__,
        [
            F.when(cnt(j) * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(_SIMHASH_BITS)
        ],
    )
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity pairs.
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.5
_JACCARD_MAX_DOC = 1000  # bound the self-join corpus


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_CORPUS_SQL}) WHERE doc_id % 100000 < {_JACCARD_MAX_DOC}
    ),
    {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
      CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity pairs ≥ 0.5, computed relationally:
    explode distinct shingles, self-equi-join on shingle (inverted
    index!), count common, Jaccard = |∩| / (|A|+|B|−|∩|). Exact integer
    counts → the double division is bitwise identical across engines.

    This IS the scalable formulation — the shingle join is an inverted
    index lookup, so cost is Σ(posting-list²) not n²; hot shingles are
    the skew hazard, which MinHash-LSH (above) avoids — kept here as the
    exact verifier LSH candidates feed into. Composition lives in
    operators/dedup.py (fuzzed cross-engine in tests/test_dedup_fuzz.py)."""
    from ..operators.dedup import pairwise_jaccard

    corpus = _dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 100000 < _JACCARD_MAX_DOC
    )
    return pairwise_jaccard(corpus, _JACCARD_THRESHOLD)


@query(
    "dedup_minhash_verified",
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, count(*) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT doc_a, doc_b,
      CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical two-stage near-dup pipeline: MinHash-LSH for
    RECALL (cheap, probabilistic, shuffle-on-signature) → exact
    shingle Jaccard for PRECISION, computed ONLY on the candidate
    pairs (generalizes F9's dedup per SURVEY.md §2.3/§2.4; this is
    the composition production dedup actually ships, vs
    dedup_ngram_jaccard's exact-everywhere formulation that inverts
    the whole corpus). Docs' shingle SETS are rebuilt as per-doc
    arrays (a narrow linear map) and each pair verifies via
    array_intersect — per-pair work is O(|A|+|B|), total work is
    O(candidates), not O(Σ posting-list²). Exact integer counts → the
    double division is bitwise identical across engines."""
    # Plan-sharing note (r6 measured, r10 re-measured and REVERSED):
    # the earlier spelling semi-joined the corpus to pair-derived
    # candidate ids before building shingle arrays, which consumed the
    # LSH pair pipeline THREE times (final join + both semi-joins). r6
    # measured AQE stage reuse hiding that at sf0.1; at the x10
    # replica it does not (the md5 minhash map is the registry's
    # densest CPU stage, and it ran 3x: 28.5 s). Single-consumption
    # spelling: build shingle arrays for ALL docs (linear, cheap
    # relative to one md5 pipeline pass) and join the pairs frame once
    # — 28.5 s -> ~12 s at x10. At 100 TB deployment scale the
    # candidates≪corpus pruning argument returns, but there a real
    # two-stage pipeline PERSISTS the candidate pairs table between
    # stages and semi-joins against the persisted artifact (see
    # ann_index for that pattern) — it never re-derives pairs 3x in
    # one plan, which is what this one-shot spelling must avoid.
    pairs = dedup_minhash_lsh(spark, sf_dir)
    corpus = _dedup_corpus(spark, sf_dir)
    tokens = F.split(F.trim(F.col("text")), r"\s+")
    # materialize the token array ONCE per row before the per-position
    # transform: a lambda referencing the raw split() expression
    # re-tokenizes the whole text at every shingle position (O(L²) per
    # doc — the same defect class as the r10 winnowing fix)
    toks = F.col("toks")
    sharr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ", F.get(toks, i), F.get(toks, i + 1), F.get(toks, i + 2)
            ),
        )
    )
    docs = (
        corpus.select("doc_id", tokens.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", sharr.alias("sh"))
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    c = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = c.cast("double") / (
        F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - c
    )
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings.
# ---------------------------------------------------------------------------

_TOPK = 5
_N_QUERIES = 5


def _cos_sql(a: str, b: str) -> str:
    dp = f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    na = f"sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    nb = f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))"
    return f"round({dp} / ({na} * {nb}), 6)"


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, v.vec_id, {_cos_sql('q.qe', 'v.embedding')} AS score
      FROM q CROSS JOIN embeddings v
      WHERE v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline. Query set
    (vec_id < 5) is broadcast against the full embedding table; the dot
    product is a zip_with/aggregate higher-order expression — all
    JVM-side, no Python. Scores rounded to 6 decimals BEFORE ranking
    (with vec_id tie-break) so both engines rank identical values.

    At scale: O(Q·N) per batch of queries — right answer for recall
    evaluation; the IVF variant below is the serving path."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe")
    )
    # _spread before the Q·N scoring pass (r16): the fixture scan is a
    # single split, so the whole brute-force cosine sweep otherwise
    # runs on one core; no-op on a pre-split production scan.
    v = _spread(emb.select("vec_id", as_double("embedding").alias("ve")))
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("ve")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )


_N_CENTROIDS_MOD = 100  # vec_id % 100 == 0 → deterministic "trained" centroids
# k is an INDEX PARAMETER, never a function of corpus size: the r9 sf1
# gate caught the unbounded `vec_id % mod == 0` rule growing k with N,
# making the vectors×centroids assignment O(N²/mod) — 10x data ran
# 50x slower. The cap (first _N_CENTROIDS multiples of the mod, a
# scan-pushed filter — no TopK pass) binds only above the bench SF, so
# every ≤sf0.1 result is unchanged; at 100 TB you'd RAISE k explicitly
# (still broadcast-sized), never let it track N.
_N_CENTROIDS = 20
_CENT_ID_CAP = _N_CENTROIDS_MOD * _N_CENTROIDS  # vec_id < 2000
# nprobe=3: chosen by measured recall@5 vs the exact baseline — at the
# unit/driver fixtures (500 vectors, 5 cells) nprobe=2 left some
# queries at 0.4 recall; 3 clears the 0.6 floor on every query. The
# scan fraction at scale stays nprobe/(N/centroid_mod) → sublinear.
# Caveat measured on sf0.1: those embeddings are isotropic noise
# (intra-label cosine ≈ inter ≈ 0), where ANY sublinear partition
# scheme has expected recall ≈ scan fraction — a data property, not an
# index bug; see sim_ann_recall_eval's docstring.
_NPROBE = 3


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                  WHERE vec_id % {_N_CENTROIDS_MOD} = 0
                    AND vec_id < {_CENT_ID_CAP}),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
          row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {_cos_sql('v.embedding', 'c.ce')} DESC, c.cid) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY {_cos_sql('q.embedding', 'c.ce')} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < {_N_QUERIES}
      ) WHERE rn <= {_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id,
        {_cos_sql('q.embedding', 'v.embedding')} AS score
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings v ON v.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id, score,
        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor: deterministic centroid
    set (every 100th vector — stand-in for k-means, which would be
    iterated offline), every vector assigned to its nearest centroid
    (inverted file), queries probe their nprobe=2 nearest cells and
    search only those posting lists.

    Scale path: assignment is a broadcast join vectors×centroids (one
    map pass, k FIXED — see _N_CENTROIDS; an unbounded every-Nth rule
    is O(N²/mod) and the sf1 gate measured it 50x at 10x data); the
    probe search is an equi-join on cell id — search cost drops from
    O(N) to O(N·nprobe/k) per query. Cell skew → AQE."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = emb.filter(
        (F.col("vec_id") % _N_CENTROIDS_MOD == 0)
        & (F.col("vec_id") < _CENT_ID_CAP)
    ).select(F.col("vec_id").alias("cid"), as_double("embedding").alias("ce"))
    # _spread before the fold (r16, VERDICT item 1a root cause): the
    # r15 fold rewrite removed the N·k expansion AND the exchange that
    # had incidentally parallelized it — on the fixture's single-split
    # scan the whole interpreted k×dim cosine fold ran on ONE core.
    # spread() is the conditional fan-out built for exactly this
    # (no-op passthrough on an already-split 100 TB scan).
    v = _spread(emb.select("vec_id", as_double("embedding").alias("ve")))

    # Nearest centroid as a narrow argmax fold (r15, guide §5): the k
    # centroids collect into ONE broadcast array row and each vector
    # folds array_max over struct(s, -cid) — the exact ordering the
    # previous max_by(cid, struct(s, nc)) aggregate used (highest
    # score, then lowest cid; NULL scores lose under the same
    # nulls-first struct ordering). The max_by form compiled to a
    # SortAggregate pair (struct-typed buffer is not hash-aggregable):
    # a full sort of N·k scored rows plus an Exchange, all of which
    # the fold removes. An empty centroid set folds to NULL —
    # filtered, matching the old inner cross join's empty result.
    cents = cent.agg(
        F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("cents")
    )
    best_vc = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(cosine(F.col("ve"), c.ce), 6).alias("s"),
                (-c.cid).alias("nc"),
            ),
        )
    )
    # The assignment CARRIES the vector through (r16, the kmeans
    # carry-through discipline / guide §2.4): the r15 form projected
    # cid only, then the scoring stage joined the full embedding
    # table BACK on vec_id (and the query set on query_id) to recover
    # what this projection already held — one corpus-sized exchange
    # of v plus a matching exchange of the candidate stream, both
    # gone now.
    assign = (
        v.crossJoin(F.broadcast(cents))
        .select("vec_id", "ve", best_vc.alias("best"))
        .filter(F.col("best").isNotNull())
        .select("vec_id", "ve", (-F.col("best.nc")).alias("cid"))
    )

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe")
    )
    # Probe selection folds over the SAME one-row broadcast centroid
    # array (the two identical broadcast subtrees are built once and
    # reused): descending sort_array over struct(s, -cid) is the
    # row_number ordering (score desc, cid asc — NULL scores last,
    # identical struct-ordering semantics), sliced to nprobe and
    # exploded. Removes the old probe path's window exchange + sort
    # and the separate k-row centroid broadcast.
    probe_structs = F.slice(
        F.sort_array(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    F.round(cosine(F.col("qe"), c.ce), 6).alias("s"),
                    (-c.cid).alias("nc"),
                ),
            ),
            False,
        ),
        1,
        _NPROBE,
    )
    # probes carries qe the same way (it is q's own projection), so
    # the posting-list probe is ONE broadcast hash join on cid — the
    # probe table is |Q|·nprobe rows (both factors fixed index
    # parameters, a designed bounded broadcast) — and the score is
    # computed in the join's output projection. The r15 shape spent
    # three shuffles here (cand by cid, cand by query_id, v by
    # vec_id); this spends zero — assignment stays a map-only pass
    # and the only remaining exchange is the top-k window's.
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qe", F.explode(probe_structs).alias("p"))
        .select("query_id", "qe", (-F.col("p.nc")).alias("cid"))
    )

    scored = (
        assign.join(F.broadcast(probes), on="cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("ve")), 6).alias("score"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )


# ---------------------------------------------------------------------------
# Text analysis: language-ID heuristic, quality score, token counts,
# document fingerprint.
# ---------------------------------------------------------------------------


@query(
    "text_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tokens
      FROM documents
    )
    SELECT doc_id, lang,
      CAST(len(list_filter(tokens, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        / len(tokens) AS en_marker_ratio,
      CASE WHEN CAST(len(list_filter(tokens, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                / len(tokens) >= 0.05
           THEN 'en' ELSE 'other' END AS guessed_lang
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: ratio of English marker stopwords among
    whitespace tokens (n-gram-profile LID reduced to its SQL core —
    real profiles would broadcast-join a per-language n-gram table,
    same plan shape). Higher-order filter keeps it JVM-side."""
    docs = read_table(spark, sf_dir, "documents")
    tokens = F.split(F.trim(F.col("text")), r"\s+")
    hits = F.size(F.filter(tokens, lambda x: (x == "the") | (x == "a")))
    ratio = hits.cast("double") / F.size(tokens)
    return docs.select(
        "doc_id",
        "lang",
        ratio.alias("en_marker_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias(
            "guessed_lang"
        ),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
        CAST(length(text) AS DOUBLE) AS cc,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS wc
      FROM documents
    )
    SELECT doc_id,
      CAST(wc AS BIGINT) AS word_count,
      least(1.0, cc / 500.0) AS length_score,
      (cc - (wc - 1)) / wc   AS avg_word_len,
      0.6 * least(1.0, cc / 500.0)
        + 0.4 * least(1.0, ((cc - (wc - 1)) / wc) / 8.0) AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length + mean-word-length heuristics —
    the punctuation/stopword-ratio family from C4/Gopher-style filters;
    the fixture corpus has no punctuation so those terms are
    structural zeros). Pure arithmetic, deterministic across engines."""
    docs = read_table(spark, sf_dir, "documents")
    cc = F.length("text").cast("double")
    wc = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    length_score = F.least(F.lit(1.0), cc / 500.0)
    awl = (cc - (wc - 1)) / wc
    quality = 0.6 * length_score + 0.4 * F.least(F.lit(1.0), awl / 8.0)
    return docs.select(
        "doc_id",
        wc.cast("bigint").alias("word_count"),
        length_score.alias("length_score"),
        awl.alias("avg_word_len"),
        quality.alias("quality_score"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
        AS regex_tokens,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, a BPE-ish regex
    segmentation (letters / digits / other), and the chars/4 BPE
    estimate used for quick corpus sizing. All JVM-side regex."""
    docs = read_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    rx = F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)))
    est = F.ceil(F.length("text") / 4.0)
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("ws_tokens"),
        rx.cast("bigint").alias("regex_tokens"),
        est.cast("bigint").alias("est_bpe_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_fingerprint,
      md5(array_to_string(list_sort(list_distinct(
        string_split_regex(trim(text), '\\s+'))), ' ')) AS bag_fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: (a) md5 of whitespace-normalized
    content — order-sensitive exact identity; (b) md5 of the sorted
    distinct token bag — order-insensitive identity (catches shuffled
    near-dups). Both are single-pass expressions; fingerprints are the
    join keys all dedup passes shuffle on at scale."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    bag = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")))
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_fingerprint"),
        # NULL text -> NULL fingerprint (adversarial-fixture finding:
        # concat_ws maps a NULL token array to '', so an unguarded
        # md5(bag) would fingerprint NULL as the empty document)
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(F.md5(bag))
        .alias("bag_fingerprint"),
    )


@query(
    "text_top_tokens",
    oracle="""
    SELECT token, n_occurrences, n_docs FROM (
      SELECT token,
        count(*) AS n_occurrences,
        count(DISTINCT doc_id) AS n_docs,
        row_number() OVER (ORDER BY count(*) DESC, token) AS rn
      FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents WHERE length(trim(text)) >= 1
      )
      GROUP BY token
    ) WHERE rn <= 100
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction — top-100 tokens by occurrence
    count with document frequency (engine extension per SURVEY.md §2;
    the stopword/vocab analysis pass every text pipeline runs before
    tokenizer training). explode → ONE hash aggregate on the token
    (count + distinct-doc count share the shuffle) → global top-k,
    which Spark executes as per-partition heaps + a k-row driver
    merge (TakeOrderedAndProject), never a full sort. Token skew
    ('the') is absorbed by map-side partial aggregation — the hot
    token collapses to one row per partition before the exchange.
    Deterministic: ties broken by token text."""
    docs = read_table(spark, sf_dir, "documents")
    tokens = (
        docs.filter(F.length(F.trim(F.col("text"))) >= 1)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
    )
    counts = tokens.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(100)
        .select("token", "n_occurrences", "n_docs")
    )


@query(
    "text_token_idf",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id,
        unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents WHERE length(trim(text)) >= 1
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
    SELECT token,
      count(*) AS doc_freq,
      round(ln((SELECT n_docs FROM n) / count(*)), 6) AS idf
    FROM tok
    GROUP BY token
    HAVING count(*) >= 10
    """,
)
def text_token_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + IDF per token (engine extension per
    SURVEY.md §2 — the tf-idf prep pass): distinct (doc, token) pairs
    → count per token, idf = ln(N/df) rounded to 6 decimals (libm ln
    may differ in the last ulp across engines — the same pre-round
    rule as cosine scores). The corpus size N is a 1-row scalar
    broadcast; rare tokens are cut at df ≥ 10 to keep the result a
    vocabulary table, not a long tail of hapaxes (at 100 TB the tail
    would dominate output size — cut it at the aggregate, before any
    sort or sink)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.length(F.trim(F.col("text"))) >= 1)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .distinct()
    )
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 10)
        .join(F.broadcast(n_docs))
        .select(
            "token",
            "doc_freq",
            F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
        )
    )


@query(
    "text_tfidf_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents WHERE length(trim(text)) >= 1
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tcnt,
        sum(count(*)) OVER (PARTITION BY doc_id) AS dlen
      FROM tok GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token,
        CAST(round(ln((SELECT count(DISTINCT doc_id) FROM tok)
                 / count(DISTINCT doc_id)) * 1000000) AS BIGINT) AS idf_micro
      FROM tok GROUP BY token
    )
    SELECT doc_id, token, tfidf FROM (
      SELECT tf.doc_id, tf.token,
        CAST((2 * tf.tcnt * idf.idf_micro + tf.dlen) // (2 * tf.dlen)
          AS DOUBLE) / 1000000.0 AS tfidf,
        row_number() OVER (PARTITION BY tf.doc_id
          ORDER BY tf.tcnt * idf.idf_micro DESC, tf.token) AS rn
      FROM tf JOIN idf ON tf.token = idf.token
    ) WHERE rn <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction via tf-idf — top-3 terms per doc
    (engine extension per SURVEY.md §2: the feature-extraction
    composition of the vocabulary passes). ONE scan + explode + grouped
    count feeds the whole query: df and dlen are window aggregates over
    that grouped count (no vocabulary self-join — (doc_id, token) is
    unique post-aggregate, so count(*) over the token partition IS the
    document frequency), and n_docs is a broadcast 1-row aggregate of
    the un-exploded table. The per-doc rank is row_number ≤ 3, which
    Spark prunes with WindowGroupLimit on both sides of the exchange.
    Determinism:
    idf quantized to integer micros with round(ln * 1e6) (both engines
    round the same double — round(v, 6) of short-decimal PRODUCTS is
    not cross-engine-stable, the sf0.1 parity lesson); ranking is by
    the exact integer tcnt·idf_micro (dlen is constant per doc, so
    this is exactly tfidf order) with token tie-break; the emitted
    tfidf is an exact integer half-up division divided by 1e6 —
    bit-identical on both engines."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.filter(F.length(F.trim(F.col("text"))) >= 1).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    # ONE scan+explode+shuffle feeds everything: tf, df, and n_docs all
    # derive from the same (doc_id, token) grouped count — (doc_id,
    # token) is unique in `base`, so df(token) = row count per token
    # and n_docs = countDistinct(doc_id) over base. The three branches
    # share an identical Exchange, which Spark collapses with
    # ReuseExchange; n_docs is a broadcast 1-row aggregate (the
    # sample_dsir_importance pattern), not an eager driver-side count —
    # the old shape tokenized documents three times (+ one extra job).
    base = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tcnt"))
    # n_docs from the un-exploded table: every doc passing the
    # length-filter contributes ≥1 token, so count(*) here equals
    # countDistinct(doc_id) over tok — a cheap filter+count scan
    # instead of a second explode+distinct pass, folded into the plan
    # as a broadcast 1-row aggregate (no eager driver-side count).
    n_docs_df = docs.filter(F.length(F.trim(F.col("text"))) >= 1).agg(
        F.count("*").alias("n_docs")
    )
    # df and dlen as WINDOW aggregates over the one grouped count —
    # (doc_id, token) is unique in base, so count(*) over the token
    # partition IS the document frequency. One scan + one explode +
    # one aggregate feed the whole query; the old groupBy-then-join
    # shape tokenized documents once per branch (column pruning
    # specializes each branch's exchange, so ReuseExchange never
    # collapses them declaratively).
    scored = (
        base.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "idf_micro",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000,
                0,
            ).cast("long"),
        )
        .withColumn(
            "dlen", F.sum("tcnt").over(Window.partitionBy("doc_id"))
        )
    )
    tfidf = (
        F.expr("(2 * tcnt * idf_micro + dlen) div (2 * dlen)").cast("double")
        / 1000000.0
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tcnt") * F.col("idf_micro")).desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", tfidf.alias("tfidf"))
    )


_WIN_K = 8  # character k-gram length
_WIN_W = 4  # winnowing window (hashes per window)


@query(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    h AS (
      SELECT doc_id,
        list_transform(generate_series(1, length(norm) - {_WIN_K - 1}),
          i -> ('0x' || substr(md5(substr(norm, i, {_WIN_K})), 1, 8))::BIGINT
        ) AS hs
      FROM n WHERE length(norm) >= {_WIN_K + _WIN_W - 1}
    ),
    w AS (
      SELECT doc_id,
        list_sort(list_distinct(
          list_transform(generate_series(1, len(hs) - {_WIN_W - 1}),
            j -> list_min(hs[j : j + {_WIN_W - 1}]))
        )) AS fps
      FROM h
    )
    SELECT doc_id,
      CAST(len(fps) AS BIGINT) AS n_fingerprints,
      md5(array_to_string(list_transform(fps, x -> x::VARCHAR), ','))
        AS winnow_digest
    FROM w
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing (the
    MOSS/Schleimer-Wilkerson-Aiken scheme — the 'rolling hash'
    fingerprint family per BASELINE.json; complements
    text_fingerprint's whole-document digests with LOCAL fingerprints
    that survive partial edits): hash every character {_WIN_K}-gram,
    slide a {_WIN_W}-hash window and keep each window's minimum;
    the sorted distinct minima are the document's fingerprint set,
    digested to one md5 for comparison. A sequential rolling hash is
    an imperative optimization — columnar engines hash all positions
    in parallel instead (same output, one map pass); all arithmetic
    is JVM higher-order expressions, shared verbatim with the DuckDB
    oracle via the md5-prefix hash. Guarantee: any shared substring of
    length ≥ {_WIN_K + _WIN_W - 1} chars yields at least one shared
    fingerprint.

    r10 constant-factor pass (the sf1 heavyweight — two fixes, output
    value-identical, oracle unchanged):
    1. ``substr(norm, i, K)`` inside the transform re-counted UTF-8
       chars from the string head on EVERY call — O(L) per position,
       O(L²) per document, which is exactly why this query's sf1 cost
       grew superlinearly with the replica's 13.3× longer texts. The
       text is now split into a char array ONCE and each k-gram is K
       O(1) ``element_at`` lookups — O(L·K) per document.
    2. The sliding-window minimum is a SPARSE-TABLE doubling over
       element-wise ``zip_with``/``least`` — ceil(log2(W)) O(P)
       passes with no per-position ``slice`` allocation (F.least
       skips the nulls zip_with pads at the tail; the final slice
       keeps exactly the P−W+1 full windows)."""
    # _spread: per-position md5 is the most CPU-dense map stage in the
    # registry; a single-file input (one split) would serialize it on
    # one or two cores (measured at the x10 replica: 2 splits, 35 s →
    # full fan-out)
    docs = _spread(read_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))

    def _window_mins(hs: Column) -> Column:
        """min over each W consecutive elements, sparse-table style:
        level k holds mins of 2^k consecutive; the W-window is the
        least of two (possibly overlapping) 2^t blocks."""
        level, span = hs, 1
        while span * 2 <= _WIN_W:
            level = F.zip_with(
                level,
                F.slice(level, span + 1, F.greatest(F.size(level) - span, F.lit(0))),
                lambda x, y: F.least(x, y),
            )
            span *= 2
        if span < _WIN_W:  # W not a power of two: overlap two blocks
            off = _WIN_W - span
            level = F.zip_with(
                level,
                F.slice(level, off + 1, F.greatest(F.size(level) - off, F.lit(0))),
                lambda x, y: F.least(x, y),
            )
        return F.slice(level, 1, F.size(hs) - (_WIN_W - 1))

    return (
        docs.select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= _WIN_K + _WIN_W - 1)
        .select("doc_id", F.split(F.col("norm"), "").alias("cs"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("cs") - (_WIN_K - 1)),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                *[
                                    F.element_at(F.col("cs"), i + j)
                                    for j in range(_WIN_K)
                                ]
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
            ).alias("hs"),
        )
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(_window_mins(F.col("hs")))
            ).alias("fps"),
        )
        .select(
            "doc_id",
            F.size("fps").cast("bigint").alias("n_fingerprints"),
            F.md5(
                F.concat_ws(",", F.transform(F.col("fps"), lambda x: x.cast("string")))
            ).alias("winnow_digest"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal: binary column plumbing (decode stubs live in
# operators/multimodal.py — the Spark-side schema/batching is real).
# ---------------------------------------------------------------------------


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS content_sha256,
      lang AS media_lang
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column handling: payload as ``binary`` + typed
    metadata alongside (the multimodal storage pattern — image/audio
    bytes are exactly this shape). Byte length + sha256 checksum
    computed on the binary column JVM-side; the decode/feature path is
    operators/multimodal.py (mapInPandas with stubbed codecs)."""
    docs = read_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha256"),
        F.col("lang").alias("media_lang"),
    )


@query(
    "multimodal_feature_extract",
    # BYTE-based features (adversarial-fixture finding): ascii() yields
    # CODEPOINTS (an emoji reads 128512) while the Spark stub reads the
    # UTF-8 payload BYTES — parse each hex pair of the encoded blob
    # into its byte value instead.
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h FROM documents
    ),
    bb AS (
      SELECT doc_id, length(h) // 2 AS n,
        list_transform(generate_series(1, length(h) // 2),
          i -> (strpos('0123456789ABCDEF', substr(h, (i-1)*2+1, 1)) - 1)
                 * 16
               + strpos('0123456789ABCDEF', substr(h, (i-1)*2+2, 1))
               - 1) AS bytes
      FROM b
    )
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_bytes,
      CASE WHEN n = 0 THEN 0.0
           ELSE list_aggregate(
                  list_transform(bytes, x -> CAST(x AS DOUBLE)), 'avg')
      END AS mean_byte,
      CAST(CASE WHEN n = 0 THEN -1 ELSE bytes[1] END AS INT) AS first_byte,
      'text/plain' AS media_type
    FROM bb
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over binary payloads via
    mapInPandas. Real Spark plumbing — binary column, Arrow batches,
    explicit output schema; the codec itself is stubbed per the
    environment contract (no image/audio libs).

    The stub features over the UTF-8 payload ARE SQL-expressible
    byte-wise (octet_length / hex-pair byte values / first byte), so
    the oracle hash-checks the full mapInPandas path on ANY text
    including non-ASCII — bytes sum exactly in float64 (≤ 255·n ≪
    2^53), so the mean is bitwise identical across engines."""
    from wiki_data_pipeline_spark.operators.multimodal import extract_features

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )
    return extract_features(media)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (sign-LSH blocked).
# ---------------------------------------------------------------------------

_NEARDUP_THRESHOLD = 0.9
_SIGN_BITS = 8
# Occupancy-adaptive sign-LSH sizing (r10, after the widened sf1 gate
# read exponent 1.3 on dedup_semantic_keep): a FIXED bit count means
# bucket occupancy grows linearly with the corpus and within-bucket
# pairs grow quadratically. Bits now size to the corpus so mean
# occupancy stays ~_SIGN_TARGET_OCC: nbits = clamp(bit_length(
# ceil(n/occ) - 1), 8, 24) — integer-exact in both engines via the
# binary-string length (no float log2 at the boundary), minimum 8
# keeps every fixture/bench scale (n <= 8k) bit-identical to the
# historical 8-bit key, cap 24 bounds key width (at n = 10^11 docs,
# nbits = 32 uncapped; past the cap occupancy grows again — at that
# point switch blocking to k-means cells, the sim_ann_ivf posture).
_SIGN_MAX_BITS = 24
_SIGN_TARGET_OCC = 32

# DuckDB mirror of functions/vectors.vec_is_finite (r12): the
# garbage-embedding gate for trainer/quantizer queries. Non-finite
# (NaN/Inf/NULL-component) vectors are excluded from vector-math
# AGGREGATES on both engines; per-vector propagation paths keep NaN
# visible instead. len(...) > 0 mirrors the Spark side's size gate
# (r13, ADVICE): Spark's forall over [] is vacuously True while
# list_aggregate([], 'min') is NULL — without the explicit length
# term the two engines disagreed on empty vectors.
_FINITE_EMB_SQL = (
    "len(embedding) > 0 AND "
    "list_aggregate(list_transform(embedding, x -> CASE WHEN x IS NOT "
    "NULL AND isfinite(CAST(x AS DOUBLE)) THEN 1 ELSE 0 END), 'min') = 1"
)

# Synthesized near-dups over the embeddings fixture (it has no exact
# pairs): ×2-scaled copies (cosine-identical — scale invariance) and
# first-dim ×1.5 perturbations (cosine slightly < 1).
_EMB_CORPUS_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
      list_transform(embedding::DOUBLE[], x -> x * 2.0) AS e
    FROM embeddings WHERE vec_id < 20
    UNION ALL
    SELECT vec_id + 200000 AS vec_id,
      list_concat([embedding[1]::DOUBLE * 1.5], (embedding::DOUBLE[])[2:]) AS e
    FROM embeddings WHERE vec_id >= 20 AND vec_id < 40
"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = as_double("embedding")
    base = emb.select("vec_id", e.alias("e"))
    scaled = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(e, lambda x: x * 2.0).alias("e"),
    )
    pert = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1) * 1.5), F.slice(e, 2, 63)
        ).alias("e"),
    )
    return base.unionAll(scaled).unionAll(pert)


def _sign_key(col_name: str, n_bits: int, offset: int = 0) -> Column:
    """Sign-bit bucket key over dims [offset+1, offset+n_bits] — the
    axis-aligned case of random-hyperplane (SRP) LSH. Positive-scaled
    near-dups keep every sign, so they always share the bucket."""
    e = F.col(col_name)
    return F.concat(
        *[
            F.when(F.element_at(e, offset + i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_bits)
        ]
    )


def _sign_key_sql(expr: str, n_bits: int, offset: int = 0) -> str:
    parts = " || ".join(
        f"(CASE WHEN {expr}[{offset + i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(n_bits)
    )
    return f"({parts})"


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH corpus AS ({_EMB_CORPUS_SQL}),
    nb AS (
      SELECT LEAST({_SIGN_MAX_BITS}, GREATEST({_SIGN_BITS},
        length(bin((count(*) + {_SIGN_TARGET_OCC - 1})
                   // {_SIGN_TARGET_OCC} - 1)))) AS nbits
      FROM corpus
    ),
    keyed AS (
      SELECT vec_id, e,
        substr({_sign_key_sql('e', _SIGN_MAX_BITS)}, 1,
               (SELECT nbits FROM nb)) AS bucket
      FROM corpus
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        {_cos_sql('a.e', 'b.e')} AS score
      FROM keyed a JOIN keyed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, score FROM pairs WHERE score >= {_NEARDUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup stage
    of an LLM data pipeline — SemDeDup-style, arXiv:2303.09540):
    vectors bucketed by an occupancy-adaptive sign-LSH key, pairwise
    cosine computed only WITHIN buckets, pairs kept at cosine ≥ 0.9.

    Scale path: the bucket join is one shuffle on the key; pairwise
    cost is Σ(bucket²) not n², and the key WIDTH sizes to the corpus
    (bit_length(ceil(n/{_SIGN_TARGET_OCC}) - 1), clamped to
    [{_SIGN_BITS}, {_SIGN_MAX_BITS}]) so mean occupancy — and with it
    per-bucket pair cost — stays constant as N grows instead of
    linear (the r10 fix for the sf1 gate's exponent-1.3 finding on
    dedup_semantic_keep). The bit count derives INSIDE the plan: a
    1-row count aggregate broadcast-cross-joined onto the corpus, the
    bucket a substring of the max-width key — no driver-side collect,
    and the DuckDB oracle computes the identical integer formula.
    Cosine stays JVM-side (zip_with/aggregate); scores rounded to 6
    decimals before thresholding so both engines keep the same
    pairs."""
    corpus = _emb_corpus(spark, sf_dir)
    occ = _SIGN_TARGET_OCC
    nb = corpus.agg(F.count(F.lit(1)).alias("n")).select(
        F.least(
            F.lit(_SIGN_MAX_BITS),
            F.greatest(
                F.lit(_SIGN_BITS),
                F.length(F.bin(F.expr(f"(n + {occ - 1}) div {occ} - 1"))),
            ),
        )
        .cast("int")
        .alias("nbits")
    )
    keyed = corpus.crossJoin(F.broadcast(nb)).withColumn(
        "bucket",
        F.substring(
            _sign_key("e", _SIGN_MAX_BITS), F.lit(1), F.col("nbits")
        ),
    )
    a = keyed.alias("a")
    # the bucket self-join is the intended one-shuffle strategy at
    # every scale — the explicit shuffle-hash hint stops the fixture-SF
    # plan from being a stats-luck broadcast that flips to SMJ at x10
    b = keyed.hint("shuffle_hash").alias("b")
    score = F.round(cosine(F.col("a.e"), F.col("b.e")), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= _NEARDUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# ANN via banded sign-LSH buckets (the LSH alternative to sim_ann_ivf).
# ---------------------------------------------------------------------------

_LSH_BANDS = 4  # four 4-bit sign bands → candidates from any band
_LSH_BITS = 4  # bits per band; recall ~1-(1-p^bits)^bands, p=1-angle/pi


def _band_union_sql(src: str, id_col: str, vec_col: str) -> str:
    return " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        f"{_sign_key_sql(vec_col, _LSH_BITS, b * _LSH_BITS)} AS key FROM {src}"
        for b in range(_LSH_BANDS)
    )


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    qb AS ({_band_union_sql('q', 'query_id', 'qe')}),
    vb AS ({_band_union_sql('v', 'vec_id', 've')}),
    cand AS (
      SELECT DISTINCT qb.query_id, vb.vec_id
      FROM qb JOIN vb ON qb.band = vb.band AND qb.key = vb.key
      WHERE vb.vec_id <> qb.query_id
    ),
    scored AS (
      SELECT c.query_id, c.vec_id, {_cos_sql('q.qe', 'v.ve')} AS score
      FROM cand c
      JOIN q ON q.query_id = c.query_id
      JOIN v ON v.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id, score,
        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbor — the banded
    alternative to sim_ann_ivf: four 4-bit sign-hyperplane bands per
    vector; candidates = vectors sharing ANY band bucket with the
    query (multi-band union recovers recall the single-bucket form
    loses); exact cosine re-rank of candidates only. Band/bit counts
    trade recall vs candidate volume — bits grow with log N at scale.

    Scale path: bands posexplode from one pass over the vectors; the
    candidate join is an equi-join on (band, key) — per-query cost
    follows bucket occupancy (N/2^bits expected), not N. No training
    step (vs IVF), so the index is a pure projection — ideal for
    append-only corpora where centroids would drift."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", as_double("embedding").alias("ve"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qe")
    )
    band_of = lambda c: F.array(
        *[_sign_key(c, _LSH_BITS, b * _LSH_BITS) for b in range(_LSH_BANDS)]
    )
    vb = v.select("vec_id", F.posexplode(band_of("ve")).alias("band", "key"))
    qb = q.select("query_id", F.posexplode(band_of("qe")).alias("band", "key"))
    cand = (
        F.broadcast(qb)
        .join(vb, on=["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), on="query_id")
        .join(v, on="vec_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("ve")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )


@query(
    "sim_label_residuals",
    oracle=f"""
    WITH fe AS (SELECT * FROM embeddings WHERE {_FINITE_EMB_SQL}),
    u AS (
      SELECT label, vec_id, g.i AS dim, CAST(embedding[g.i] AS DOUBLE) AS x
      FROM fe, unnest(generate_series(1, len(embedding))) AS g(i)
    ),
    c AS (SELECT label, dim, avg(x) AS cx FROM u GROUP BY label, dim),
    gs AS (SELECT label, count(*) AS n FROM fe GROUP BY label)
    SELECT u.label, u.vec_id,
      ROUND(sqrt(sum((u.x - c.cx) * (u.x - c.cx))), 6) AS residual,
      CAST(any_value(gs.n) AS BIGINT) AS group_size
    FROM u
    JOIN c  ON c.label = u.label AND c.dim = u.dim
    JOIN gs ON gs.label = u.label
    GROUP BY u.label, u.vec_id
    """,
)
def sim_label_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid residuals via grouped-map applyInPandas
    (SURVEY.md §2.10 extension — the embedding-cluster quality signal
    used to pick semantic-dedup candidates: small residual ⇒ vector is
    near its cluster center ⇒ dedup candidate). The oracle recomputes
    centroid + residual relationally (unnest → per-dim AVG → rejoin).
    Determinism: the UDF sorts each group by vec_id, so the Spark-side
    result is bit-stable across partitionings; cross-engine, residuals
    are rounded to 6 decimals on both sides (F.round half-up ≡ DuckDB
    ROUND), which agrees in practice but is not a bitwise guarantee for
    a value landing exactly on a rounding boundary — the rows-only unit
    test backstops that documented risk."""
    from wiki_data_pipeline_spark.operators.multimodal import (
        label_centroid_residuals,
    )

    from wiki_data_pipeline_spark.functions.vectors import vec_is_finite

    # garbage-embedding gate: one NaN component would NaN-ify the
    # whole label's centroid and every member's residual
    emb = read_table(spark, sf_dir, "embeddings").filter(
        vec_is_finite("embedding")
    )
    raw = label_centroid_residuals(emb.select("label", "vec_id", "embedding"))
    return raw.select(
        "label",
        "vec_id",
        F.round("residual", 6).alias("residual"),
        "group_size",
    )


# ---------------------------------------------------------------------------
# Document chunking (training-data prep): fixed token-count chunks.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 50


@query(
    "text_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
      array_to_string(t[(i-1)*{_CHUNK_TOKENS} + 1 : i*{_CHUNK_TOKENS}], ' ') AS chunk_text,
      CAST(len(t[(i-1)*{_CHUNK_TOKENS} + 1 : i*{_CHUNK_TOKENS}]) AS INT) AS n_tokens
    FROM tok, unnest(generate_series(1,
      CAST(ceil(len(t) / {_CHUNK_TOKENS}.0) AS BIGINT))) AS g(i)
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking (the LLM training-data prep step —
    split each document into ≤50-token chunks, keeping order): pure
    JVM higher-order form — transform(sequence) slices the token array
    per chunk, posexplode emits (chunk_idx, chunk). No Python in the
    hot path; one narrow stage, scales with input splits. The same
    semantics via the Python UDTF surface (SURVEY.md §2.10) is
    operators/multimodal.py:ChunkDocUDTF, equality-tested against this
    plan."""
    docs = read_table(spark, sf_dir, "documents")
    # materialize the token array before the chunking lambda: the raw
    # split() inlined in the lambda re-tokenizes the text per CHUNK
    # (O(L·L/512) per doc — same defect class as _minhash_sigs, r10)
    toks = F.col("toks")
    n_chunks = F.ceil(F.size(toks) / float(_CHUNK_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS),
    )
    return _spread(docs).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_arr")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", "chunk_arr").alias("chunk_text"),
        F.size("chunk_arr").cast("int").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Composed end-to-end training-data prep pipeline.
# ---------------------------------------------------------------------------


@query(
    "pipeline_training_prep",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    scored AS (
      SELECT doc_id, text,
        md5(text) AS content_hash,
        CAST(length(text) AS DOUBLE) AS cc,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS wc,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
          x -> x = 'the' OR x = 'a')) AS DOUBLE)
          / len(string_split_regex(trim(text), '\\s+')) AS en_ratio
      FROM corpus
    ),
    gated AS (
      SELECT *,
        0.6 * least(1.0, cc / 500.0)
          + 0.4 * least(1.0, ((cc - (wc - 1)) / wc) / 8.0) AS quality_score
      FROM scored
      WHERE en_ratio >= 0.05
    ),
    kept AS (
      SELECT * FROM gated WHERE quality_score >= 0.35
    ),
    canonical AS (
      SELECT content_hash, min(doc_id) AS doc_id FROM kept GROUP BY content_hash
    )
    SELECT k.doc_id,
      CAST(k.wc AS BIGINT) AS n_tokens,
      k.quality_score
    FROM kept k JOIN canonical c
      ON k.content_hash = c.content_hash AND k.doc_id = c.doc_id
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep over the dedup corpus (the
    reference pipeline loop, src/main.py:99-135 — fetch → validate →
    dedup — recast for LLM corpus prep) — the
    composition a 100 TB pretraining pipeline actually runs, as ONE
    declarative plan: language gate (en-marker ratio ≥ 0.05) →
    quality gate (length/word-length score ≥ 0.35) → exact dedup
    keeping the lowest doc_id per content hash. Output: surviving
    doc_id, token count, quality score.

    Shape at scale: the two gates are narrow (no shuffle) and prune
    BEFORE the only shuffle (groupBy(content_hash) for canonical
    selection — here as min-per-hash + self-join back, which Catalyst
    plans as one aggregate + one hash join on the uniform md5 key; no
    window over the full corpus, no skew). Near-dup removal
    (dedup_minhash_lsh) plugs in after the exact pass on the survivors
    — ordering the cheap exact pass first shrinks the expensive
    shingle explode's input."""
    corpus = _dedup_corpus(spark, sf_dir)
    tokens = F.split(F.trim(F.col("text")), r"\s+")
    cc = F.length("text").cast("double")
    wc = F.size(tokens).cast("double")
    en_ratio = (
        F.size(F.filter(tokens, lambda x: (x == "the") | (x == "a"))).cast("double")
        / F.size(tokens)
    )
    quality = 0.6 * F.least(F.lit(1.0), cc / 500.0) + 0.4 * F.least(
        F.lit(1.0), ((cc - (wc - 1)) / wc) / 8.0
    )
    kept = (
        corpus.select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            wc.alias("wc"),
            en_ratio.alias("en_ratio"),
            quality.alias("quality_score"),
        )
        .filter(F.col("en_ratio") >= 0.05)
        .filter(F.col("quality_score") >= 0.35)
    )
    canonical = kept.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(canonical, on=["content_hash", "doc_id"]).select(
        "doc_id",
        F.col("wc").cast("bigint").alias("n_tokens"),
        "quality_score",
    )


# ---------------------------------------------------------------------------
# Dedup cluster formation: connected components over the near-dup
# pair graph (iterative algorithm surface).
# ---------------------------------------------------------------------------


def _min_label_init(edges: DataFrame) -> DataFrame:
    """Round 1 folded into initialization: with lbl₀ = node, the first
    propagation round computes least(node, min(neighbors)) — which is
    ONE aggregate over the symmetric (u, v) edge set (the groupBy(u)
    yields exactly the distinct node set), so the distinct + join +
    agg of a full round collapses into the init pass → (node, lbl)."""
    return (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("nmin"))
        .select("node", F.least(F.col("node"), F.col("nmin")).alias("lbl"))
    )


def _min_label_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: min(own label, min neighbor
    label) as ONE aggregate over the union of neighbor contributions
    and the labels themselves — a neighbor-min aggregate + left join
    back would spend an extra shuffle per round on the same result.
    Every node appears in ``labels``, so the union keeps
    isolated-in-this-round nodes alive exactly like a left-join
    coalesce would."""
    contrib = edges.join(labels, edges.u == labels.node).select(
        F.col("v").alias("node"), F.col("lbl")
    )
    return contrib.unionAll(labels).groupBy("node").agg(F.min("lbl").alias("lbl"))


def _min_label_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Min-label connected components over an (a, b) pair DataFrame →
    (node, lbl) at fixpoint — the shared iterative core of
    dedup_cluster_components (MinHash graph) and dedup_semantic_keep
    (embedding-cosine graph). See dedup_cluster_components for the
    localCheckpoint / Observation-fixpoint scale discipline. The first
    propagation round is folded into label initialization (one
    aggregate over the symmetric edges), saving a join + checkpoint
    round and the init-sum collect. The init and round bodies are
    ``_min_label_init`` / ``_min_label_round``, which the x10 sweep's
    compile-only stand-in (plans/scale_audit.py) builds too."""
    from pyspark.sql import Observation

    # Materialize the pair frame ONCE before symmetrizing: the union
    # consumes `pairs` twice, and without the pin that means two full
    # runs of the upstream pair pipeline (the LSH signature build is
    # the registry's densest CPU stage — the dedup_minhash_verified
    # single-consumption lesson). The checkpointed frame is pair-sized.
    pairs = pairs.transform(pin)
    edges = pairs.select(
        F.col(a).alias("u"), F.col(b).alias("v")
    ).unionAll(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
    # Pin the symmetric edge set PRE-PARTITIONED on the join key
    # (r16, the pagerank round-constant discipline): every propagation
    # round joins edges on u, and an unpartitioned checkpoint
    # re-shuffled the EDGE SET once per round — the largest per-round
    # exchange. The materialized hash partitioning is reused by every
    # round's join (and by the init aggregate below, which is keyed on
    # u too); rounds now move only the node-sized label table.
    edges = edges.repartition("u").transform(pin)
    # The convergence sum rides each round's checkpoint as an
    # Observation (no separate collect job).
    obs0 = Observation()
    labels = (
        _min_label_init(edges)
        .observe(obs0, F.sum("lbl").alias("lbl_sum"))
        .transform(pin)
    )
    prev_sum = obs0.get["lbl_sum"]
    for _ in range(19):
        obs = Observation()
        labels = (
            _min_label_round(edges, labels)
            .observe(obs, F.sum("lbl").alias("lbl_sum"))
            .transform(pin)
        )
        cur_sum = obs.get["lbl_sum"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Same loud-failure contract as the star variant: rounds =
        # graph diameter, and near-dup cluster diameters are tiny —
        # exhaustion means pathological input (a long chain) whose
        # labels are NOT at fixpoint; returning them would be silently
        # wrong. Chains deeper than the cap belong on the star twin
        # (O(log²) rounds).
        raise RuntimeError(
            "_min_label_components: no fixpoint after 20 propagation "
            "rounds; refusing to return unconverged component labels"
        )
    return labels



@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTER formation — connected components over the MinHash
    near-dup pair graph, the step that turns pairwise candidates into
    keep/drop groups (engine extension per SURVEY.md §2.10's iterative-
    algorithm surface; generalizes F9's seen-set dedup to transitive
    identity). Iterative min-label propagation: every node starts as
    its own label; each round takes the min of its own and its
    neighbors' labels; at fixpoint each component carries its smallest
    doc_id as component_id (the canonical survivor).

    Scale notes: each round is one join + one aggregate — all shuffles
    on the node key; rounds = graph diameter (near-dup clusters are
    shallow — a handful). ``localCheckpoint`` between rounds truncates
    the lineage (else the plan doubles per iteration and the optimizer
    chokes — THE classic iterative-Spark trap). Convergence is
    detected by the label-sum aggregate: labels only ever decrease, so
    an unchanged sum ⟺ fixpoint; the sum rides the checkpoint
    materialization as an ``Observation`` metric — ONE job per round,
    no separate aggregate pass, and never a collect of the frontier.
    The DuckDB oracle is the same fixpoint via WITH RECURSIVE
    transitive closure."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = _min_label_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").cast("bigint").alias("component_id")
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star half-round pair over an (a, b) edge
    set oriented a > b → the next round's (a, b) edge set."""
    # -- large-star: symmetric adjacency; larger neighbors -> min
    adj = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mn = adj.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    large = (
        adj.join(mn, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), m.alias("b"))
        .distinct()
    )
    # -- small-star: orientation large->small; smaller neighbors
    #    and the center itself -> min
    dmn = large.groupBy("a").agg(F.min("b").alias("mn"))
    return (
        large.join(dmn, "a")
        .select(F.col("b").alias("a"), F.col("mn").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionAll(dmn.select(F.col("a"), F.col("mn").alias("b")))
        .distinct()
    )


@query(
    "dedup_cluster_components_star",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    (the MapReduce CC algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond" — converges in O(log²) rounds
    on ANY graph vs the diameter-many rounds of plain min-label
    propagation in ``dedup_cluster_components``; same output contract
    and oracle — the two are bench-raced twins).

    large-star: every node's strictly-larger neighbors re-attach to
    its minimum (min of the node and all its neighbors); small-star:
    orienting each edge large→small, every node's smaller neighbors —
    and the node itself — re-attach to that minimum. Each half-round
    is one groupBy(min) + one co-partitioned join + distinct; edge
    count never grows (every emitted edge replaces one consumed edge),
    and the structure collapses to stars whose centers are component
    minima. Convergence = edge multiset fixpoint, detected by an
    (count, sum) Observation riding the round's localCheckpoint —
    labels/edges only ever decrease, so an unchanged signature ⟺
    done; no frontier collect.

    Scale: the reason this form exists — high-diameter dedup graphs
    (chained near-dups: A~B~C~...) make plain propagation pay one
    driver round per hop, while star rounds square-jump. Hot hubs are
    fine: both stars key the shuffle by node id and the min-aggregate
    is decomposable (map-side partials), so a 10⁶-degree boilerplate
    hub never funnels its neighbor list through one reducer as a
    collected array. The round body is ``_star_round``, which the x10
    sweep's compile-only stand-in (plans/scale_audit.py) builds too."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # undirected edge set, canonical orientation a > b. The LSH pair
    # contract is already DISTINCT rows with doc_a < doc_b (the band
    # pipeline dedups), so the orientation is a pure rename — no
    # greatest/least, and no distinct shuffle over the pair set.
    edges = pairs.select(
        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
    ).transform(pin)
    prev_sig = None
    for _ in range(12):
        small = _star_round(edges)
        obs = Observation()
        # Fixpoint signature = (count, sum of per-edge xxhash64): a
        # plain (count, sum(a+b)) can collide across different edge
        # multisets ({(5,1),(3,2)} vs {(4,2),(3,2)}) and stop a round
        # early; hashing each edge first makes collision astronomically
        # unlikely while still riding the checkpoint job as one scalar.
        edges = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal sum: long would ANSI-overflow on 64-bit hashes
            F.sum(F.xxhash64("a", "b").cast("decimal(20,0)")).alias("s"),
        ).transform(pin)
        sig = (obs.get["n"], obs.get["s"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    else:
        converged = False
    if not converged:
        # Never return a non-star edge set as if it were component
        # labels — O(log² n) rounds means 12 covers any real corpus,
        # so exhaustion signals a bug or pathological input, loudly.
        raise RuntimeError(
            "dedup_cluster_components_star: no fixpoint after 12 "
            "large-star/small-star rounds; refusing to return "
            "unconverged component labels"
        )
    # stars: (member, root) edges; add the roots themselves
    return (
        edges.select(F.col("a").alias("doc_id"), F.col("b").alias("component_id"))
        .unionAll(
            edges.select("b").distinct().select(
                F.col("b").alias("doc_id"), F.col("b").alias("component_id")
            )
        )
        .select("doc_id", F.col("component_id").cast("bigint").alias("component_id"))
    )


# ---------------------------------------------------------------------------
# K-means clustering over embeddings (iterative centroid refinement).
# ---------------------------------------------------------------------------

_KM_CENTROID_MOD = 100  # vec_id % 100 == 0 → deterministic seed positions
_KM_K = 20  # fixed k: a training parameter, never a function of N
# (same O(N²/mod) hazard and same fix as _N_CENTROIDS — see that
# comment; cap binds only above the bench SF)
_KM_ID_CAP = _KM_CENTROID_MOD * _KM_K
_KM_ITERS = 2


def _l2_sql(a: str, b: str) -> str:
    """DuckDB mirror of vectors.sq_dist — same element op, same
    left-to-right summation."""
    return (
        f"list_aggregate(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def _km_assign_sql(cent: str, keep_dist: bool = False) -> str:
    d = _l2_sql("e.ve", "c.ce")
    cols = "vec_id, cid" + (", d" if keep_dist else "")
    return f"""(
      SELECT {cols} FROM (
        SELECT e.vec_id, c.cid, round({d}, 6) AS d,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY round({d}, 6), c.cid) AS rn
        FROM emb e CROSS JOIN {cent} c
      ) WHERE rn = 1
    )"""


def _km_update_sql(assign: str) -> str:
    return f"""(
      SELECT cid, array_agg(mval ORDER BY pos) AS ce FROM (
        SELECT cid, pos,
          CAST(sum(CAST(val AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mval
        FROM (
          SELECT a.cid, unnest(e.ve) AS val,
            generate_subscripts(e.ve, 1) AS pos
          FROM {assign} a JOIN emb e USING (vec_id)
        ) GROUP BY cid, pos
      ) GROUP BY cid
    )"""


@query(
    "cluster_kmeans_embeddings",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
      WHERE {_FINITE_EMB_SQL}
    ),
    cent0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
      WHERE vec_id % {_KM_CENTROID_MOD} = 0 AND vec_id < {_KM_ID_CAP}
        AND {_FINITE_EMB_SQL}
    ),
    assign0 AS {_km_assign_sql('cent0')},
    cent1 AS {_km_update_sql('assign0')},
    assign1 AS {_km_assign_sql('cent1')},
    cent2 AS {_km_update_sql('assign1')},
    final AS {_km_assign_sql('cent2', keep_dist=True)}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, d AS sq_dist
    FROM final
    """,
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering over the embedding corpus (engine extension:
    the iterative-refinement ML surface a training-data pipeline uses
    for corpus bucketing / IVF index training — the offline step
    sim_ann_ivf's docstring defers to). Deterministic end to end:
    seeds are the first {_KM_K} vectors at vec_id % {_KM_CENTROID_MOD}
    == 0 (k FIXED — a training parameter; an unbounded every-Nth rule
    made assignment O(N²/mod), 46x at 10x data per the sf1 gate),
    {_KM_ITERS} Lloyd
    iterations (fixed — no data-dependent stop), squared-L2 rounded to
    6 decimals with lowest-cid tie-break, and centroid means computed
    as decimal-exact component sums divided in double, so Spark's
    partial-agg order and DuckDB's single-threaded order agree bitwise.

    Plan shape per iteration (all JVM-side higher-order exprs, no
    Python): assignment = ONE narrow projection — the k centroids are
    collected into a single broadcast array row and each vector folds
    argmin over it (array_min over struct(d, cid): identical
    lexicographic ordering to the previous min_by(struct(d,cid))
    aggregate, same rounding, same lowest-cid tie-break). The r14 form
    (vectors × broadcast(centroids) cross join → groupBy(vec_id) +
    min_by) compiled to a SortAggregate pair — min_by's struct-typed
    buffer is not hash-aggregable — i.e. a full sort of N·k scored
    rows plus an Exchange per iteration (guide §5: hash vs sort
    aggregate); the fold removes the blowup, both sorts, and the
    exchange. update = posexplode the vector carried THROUGH the
    assignment projection (no join back to emb — the r14 shape paid a
    per-iteration join on vec_id for a column the assignment already
    held) → two-level hash aggregate ((cid,pos) then cid, re-packing
    with array_sort). At 100 TB: k centroids always fit in a
    broadcast; per-iteration cost is one map pass + shuffles keyed on
    (cid,pos) — uniform, skew-free; lineage stays shallow (k fixed
    iterations over aggregates, no recursion blowup).

    Reference analog: none (SURVEY.md §2.10 — the engine's iterative
    surface; generalizes the same loop as dedup_cluster_components)."""
    from wiki_data_pipeline_spark.functions.vectors import sq_dist

    # The iterative workhorse: emb feeds every assignment and update
    # round (2·iters+1 passes) — cache it once, the canonical Spark
    # iterative-ML pattern (freed by the ContextCleaner when the
    # result DataFrame is dropped).
    from wiki_data_pipeline_spark.functions.vectors import vec_is_finite

    # garbage-embedding gate: a NaN/Inf vector would poison every
    # centroid mean it touches (and NaN distances break min_by ties)
    # _spread before the cache (r16, VERDICT item 1a root cause): the
    # fixture scan is one split, and the r15 fold rewrite made every
    # Lloyd pass a narrow map over it — i.e. the whole k×dim distance
    # fold ran on ONE core, 2·iters+1 times. The conditional fan-out
    # caches 32 balanced partitions and passes through untouched on a
    # pre-split production scan. (A pin() variant was measured: the
    # eager checkpoint job costs +0.7 s at sf0.1 vs the lazy cache —
    # cache kept; the plan-audit flakiness a live cache causes is
    # handled at the audit, which compiles under a cleared cache.)
    emb = (
        _spread(
            read_table(spark, sf_dir, "embeddings")
            .filter(vec_is_finite("embedding"))
            .select("vec_id", as_double("embedding").alias("ve"))
        )
        .cache()
    )
    cent = emb.filter(
        (F.col("vec_id") % _KM_CENTROID_MOD == 0)
        & (F.col("vec_id") < _KM_ID_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("ve").alias("ce"))

    def assign(cent_df: DataFrame, keep_dist: bool = False) -> DataFrame:
        # k centroids → ONE broadcast array row (sort_array only for
        # plan determinism; the fold's winner is order-independent).
        cents = cent_df.agg(
            F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("cents")
        )
        # Nearest centroid as a narrow argmin fold: array_min over
        # struct(d, cid) uses the SAME interpreted struct ordering as
        # the min_by(struct(d,cid)) aggregate it replaces (tie →
        # lowest cid), with d the identical round(sq_dist, 6) double.
        # No N·k row blowup, no SortAggregate, no exchange. An empty
        # centroid set folds to NULL — filtered, matching the old
        # inner cross join's empty result.
        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    F.round(sq_dist(F.col("ve"), c.ce), 6).alias("d"),
                    c.cid.alias("cid"),
                ),
            )
        )
        out = (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", "ve", best.alias("best"))
            .filter(F.col("best").isNotNull())
        )
        cols = ["vec_id", "ve", F.col("best.cid").alias("cid")]
        if keep_dist:
            cols.append(F.col("best.d").alias("d"))
        return out.select(*cols)

    def update(assign_df: DataFrame) -> DataFrame:
        # the assignment projection carries ve — no join back to emb.
        # r16 note: a 64-column variant (one decimal sum + count per
        # component in a single cid-keyed hash aggregate, no
        # posexplode, one fewer exchange) was built, oracle-verified
        # on all three fixtures, and MEASURED 2.1× SLOWER at sf0.1
        # (2.10 → 4.33 s): 128 aggregation buffers per group cost
        # more per input row than the 64× row blowup saves. Kept the
        # posexplode form.
        exploded = assign_df.select("cid", F.posexplode("ve").alias("pos", "val"))
        sums = exploded.groupBy("cid", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("mval")
        )
        return sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s.mval,
            ).alias("ce")
        )

    for _ in range(_KM_ITERS):
        cent = update(assign(cent))
    return assign(cent, keep_dist=True).select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster_id"),
        F.col("d").alias("sq_dist"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling & dataset splitting (training-corpus surface).
# ---------------------------------------------------------------------------


def _hash_bucket(key: Column) -> Column:
    """Stable 0-99 bucket from md5(key) — the hash-based sampling
    primitive production pipelines use instead of RNG sampling
    (`df.sample` draws from an engine-specific RNG stream: not
    reproducible across engines, partitionings, or reruns)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100


_HASH_BUCKET_SQL = "(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 100)"


@query(
    "sample_stable_hash",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_HASH_BUCKET_SQL.format(key='doc_id')} < 10
    """,
)
def sample_stable_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample by hash bucket (engine
    extension: the subsample operator every training-data pipeline
    needs; reference analog: none — SURVEY.md §2 has no sampling).
    md5(doc_id) mod 100 < 10 keeps membership stable under reruns,
    repartitioning, engine changes, and corpus growth (a doc's
    bucket never changes), unlike `TABLESAMPLE`/`df.sample` RNG.
    Fully pushed into the scan pipeline: narrow, no shuffle, trivially
    100 TB-safe."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.filter(_hash_bucket(F.col("doc_id")) < 10).select(
        "doc_id", "lang", "source"
    )


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id,
      CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
           ELSE 'test' END AS split
    FROM (
      SELECT doc_id, {_HASH_BUCKET_SQL.format(key='doc_id')} AS h
      FROM documents
    )
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hash bucket
    (engine extension per SURVEY.md §2 — no sampling in the reference;
    same rationale as sample_stable_hash: a doc's
    split never changes as the corpus grows — the property that keeps
    eval sets uncontaminated across pipeline runs). Narrow projection,
    no shuffle; the split column becomes a partition column at the
    sink (`partitionBy('split')`, sinks/partitioned_layout.py
    pattern) so downstream readers prune to their split."""
    docs = read_table(spark, sf_dir, "documents")
    h = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@query(
    "sample_stratified_by_lang",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    WHERE rn <= ceil(0.1 * n_lang)
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ~10% sample with an EXACT per-language quota (engine
    extension per SURVEY.md §2 — no sampling in the reference:
    proportional corpus subsampling that preserves the
    language mix — plain hash sampling only hits quotas in
    expectation). One window pass per language partition: rank docs by
    their md5 (a deterministic shuffle-order proxy), keep the first
    ceil(10%) of each stratum. One shuffle on lang; per-stratum state
    is O(1) per row. Skew note: stratum sizes are corpus-driven (a
    dominant language = a big partition) — at 100 TB swap the exact
    window for per-stratum hash thresholds tuned from a count pass
    (approximate quotas, zero sort) if the sort cost bites."""
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("lang")).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(0.1 * F.col("n_lang")))
        .select("doc_id", "lang")
    )


_ES_SAMPLE_K = 50
_ES_STRATUM_K = 20


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
        greatest(n_chars, 1) AS weight,
        -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             + 0.5) / 4294967296.0)
          / greatest(n_chars, 1) AS es_key
      FROM documents
    )
    SELECT doc_id, weight,
      CAST(round(es_key * 1000000) AS BIGINT) AS es_key_micro
    FROM keyed
    ORDER BY es_key, doc_id
    LIMIT {_ES_SAMPLE_K}
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential jitter —
    the Efraimidis–Spirakis A-ES scheme (engine extension per
    SURVEY.md §2: the curation step that subsamples a corpus
    proportionally to per-doc weight, here n_chars, in one
    distributed pass). Each doc draws u from md5(doc_id) (the
    sample_stable_hash primitive: deterministic across engines,
    reruns, partitionings — never an RNG stream) and gets key
    -ln(u)/w; the k smallest keys ARE a weight-proportional sample
    without replacement. Heavier docs get proportionally smaller
    keys, and the whole draw is reproducible: re-running on a grown
    corpus re-ranks but never re-rolls.

    Scale: map-only key computation, then global top-k — Spark
    compiles orderBy+limit to TakeOrderedAndProject (per-partition
    heap of k, merge at the driver-side of one stage), NOT a global
    sort: no full-corpus shuffle at any size. The raw double key
    orders the heap; the emitted column is the micro-quantized BIGINT
    (the surprisal discipline — identical integer hash inputs →
    identical ln/division doubles on both engines → identical
    rounding)."""
    docs = read_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32.cast("double") + 0.5) / F.lit(4294967296.0)
    w = F.greatest(F.col("n_chars"), F.lit(1))
    key = -F.log(u) / w.cast("double")
    return (
        docs.select(
            "doc_id",
            w.alias("weight"),
            key.alias("_es_key"),
        )
        .orderBy("_es_key", "doc_id")
        .limit(_ES_SAMPLE_K)
        .select(
            "doc_id",
            "weight",
            F.round(F.col("_es_key") * 1000000)
            .cast("bigint")
            .alias("es_key_micro"),
        )
    )


@query(
    "sample_weighted_per_stratum",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
        greatest(n_chars, 1) AS weight,
        -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             + 0.5) / 4294967296.0)
          / greatest(n_chars, 1) AS es_key
      FROM documents
    )
    SELECT doc_id, lang, weight FROM (
      SELECT doc_id, lang, weight,
        row_number() OVER (PARTITION BY lang ORDER BY es_key, doc_id)
          AS rn
      FROM keyed
    )
    WHERE rn <= {_ES_STRATUM_K}
    """,
)
def sample_weighted_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement (engine
    extension per SURVEY.md §2 — no sampling in the reference): an
    EXACT k-per-language quota where, inside each language, selection
    probability is proportional to doc weight (the A-ES key of
    sample_weighted_topk, ranked within the stratum instead of
    globally). This is the domain-mix curation step: hit the language
    quota exactly (sample_stratified_by_lang's property) while
    preferring substantial documents within it (sample_weighted_topk's
    property); deterministic md5 jitter keeps every draw reproducible.

    Scale: one shuffle on lang, then a per-stratum rank — the same
    shape and the same skew note as sample_stratified_by_lang (a
    dominant language is a big sort partition; at 100 TB pre-filter
    each stratum to its approximate top fraction by a per-stratum key
    threshold from a count pass before the exact rank)."""
    docs = read_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32.cast("double") + 0.5) / F.lit(4294967296.0)
    w = F.greatest(F.col("n_chars"), F.lit(1))
    key = -F.log(u) / w.cast("double")
    win = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id",
            "lang",
            w.alias("weight"),
            F.row_number().over(win).alias("_rn"),
        )
        .filter(F.col("_rn") <= _ES_STRATUM_K)
        .select("doc_id", "lang", "weight")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (training-data scrubbing).
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
        text || ' contact user' || doc_id || '@example.com or 555-' ||
        lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' at 10.0.' ||
        (doc_id % 256)::VARCHAR || '.1' AS text
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
      CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)    AS n_ips,
      regexp_replace(regexp_replace(regexp_replace(text,
        '{_PII_EMAIL}', '<EMAIL>', 'g'),
        '{_PII_PHONE}', '<PHONE>', 'g'),
        '{_PII_IP}', '<IP>', 'g') AS redacted
    FROM seeded
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data hygiene — the C4/RefinedWeb-style
    scrub pass; engine extension per SURVEY.md §2, no reference
    analog): detect and redact emails / phone numbers / IPv4 addresses
    with JVM regexes — per-type match counts for audit metrics plus
    the redacted text. The fixture corpus carries no PII, so a
    deterministic seeded injection (doc_id-derived email/phone/IP)
    makes the match paths real and oracle-checkable.

    Scale: pure narrow projection — three regexp_replace passes fused
    into one whole-stage-codegen stage, no shuffle, no Python. Count
    metrics come from regexp_count-equivalent extract_all sizes so the
    audit aggregate (sum over corpus) is a cheap follow-on reduce."""
    docs = read_table(spark, sf_dir, "documents")
    seeded_expr = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
    )
    seeded = F.col("seeded")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    # seeded materialized in its own projection: it feeds four regex
    # expressions; as a column reference the concat runs once per row.
    return _spread(docs).select("doc_id", seeded_expr.alias("seeded")).select(
        "doc_id",
        F.size(F.regexp_extract_all(seeded, F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(seeded, F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint").alias("n_phones"),
        F.size(F.regexp_extract_all(seeded, F.lit(_PII_IP), F.lit(0)))
        .cast("bigint").alias("n_ips"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality signals).
# ---------------------------------------------------------------------------


@query(
    "text_repetition_metrics",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tokens) - 1),
          i -> tokens[i] || ' ' || tokens[i+1])) AS gram
      FROM tok WHERE len(tokens) >= 2
    ),
    gc AS (
      SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram
    ),
    tot AS (
      SELECT doc_id, sum(n) AS total_bigrams FROM gc GROUP BY doc_id
    ),
    top AS (
      SELECT doc_id, gram AS top_bigram, n AS top_n
      FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY n DESC, gram) AS rn
        FROM gc
      ) WHERE rn = 1
    )
    SELECT t.doc_id,
      CAST(len(tk.tokens) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(tk.tokens)) AS DOUBLE) / len(tk.tokens)
        AS distinct_token_ratio,
      t.top_bigram,
      CAST(t.top_n AS DOUBLE) / tt.total_bigrams AS top_bigram_frac
    FROM top t
    JOIN tot tt ON t.doc_id = tt.doc_id
    JOIN tok tk ON t.doc_id = tk.doc_id
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-rules family — repetitive
    docs are low-value training data; engine extension per SURVEY.md
    §2): per-doc distinct-token ratio and the most frequent bigram
    with its share of all bigrams (ties broken lexicographically for
    cross-engine determinism). The fractions are exact-int divisions —
    bitwise stable across engines.

    Scale: the top-1 bigram is per-doc-LOCAL, so the whole query is
    narrow — sort each doc's gram array and fold it with a run-length
    accumulator (F.aggregate: longest run in the sorted array = most
    frequent gram; strictly-greater replacement keeps the lex-min
    tiebreak for free since runs arrive in lex order). Zero shuffles.
    Measured 9× faster at sf0.1 than the previous explode +
    groupBy(doc_id, gram) + min_by shape, whose (doc_id, gram) shuffle
    moved every bigram occurrence across the cluster — the opposite
    verdict from the simhash narrow-fold negative result:
    there the fold REPLACED a map-side-combining aggregate of few
    outputs; here it replaces a full-width shuffle of all bigrams."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    base = (
        _spread(docs)
        # tokens materialized in their own projection: lambda-inlined
        # split would re-split the text once per bigram (see _shingles)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            (
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            ).alias("distinct_token_ratio"),
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + 1)),
            ).alias("grams"),
        )
        .filter(F.col("n_tokens") >= 2)
    )
    # top-1 bigram per doc = longest run in the SORTED gram array:
    # a narrow run-length fold, no explode, no shuffle. Runs arrive in
    # lexicographic order, so replacing best only on STRICTLY greater
    # run length is exactly "max count, lex tiebreak".
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit("").alias("best_gram"),
        F.lit(0).cast("long").alias("best_n"),
    )

    def _step(acc, g):
        run = (
            F.when(g == acc["prev"], acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
        )
        better = run > acc["best_n"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, g).otherwise(acc["best_gram"]).alias("best_gram"),
            F.when(better, run).otherwise(acc["best_n"]).alias("best_n"),
        )

    return (
        base.select(
            "doc_id",
            "n_tokens",
            "distinct_token_ratio",
            F.aggregate(F.array_sort("grams"), zero, _step).alias("top"),
            F.size("grams").cast("bigint").alias("total_bigrams"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "distinct_token_ratio",
            F.col("top.best_gram").alias("top_bigram"),
            (F.col("top.best_n").cast("double") / F.col("total_bigrams")).alias(
                "top_bigram_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check (n-gram overlap vs a held-out set).
# ---------------------------------------------------------------------------

_BENCH_MOD = 97  # doc_id % 97 == 0 → the synthetic "benchmark" set


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(generate_series(1, len(tokens) - 2),
          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
      FROM tok WHERE len(tokens) >= 3
    ),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ),
    scored AS (
      SELECT s.doc_id,
        count(*) AS n_shingles,
        CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_overlap
      FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
      WHERE s.doc_id % {_BENCH_MOD} <> 0
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_overlap,
      CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_frac,
      CAST(n_overlap AS DOUBLE) / n_shingles >= 0.5 AS contaminated
    FROM scored WHERE n_overlap > 0
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (the eval-set n-gram-overlap
    decontamination pass every serious pretraining pipeline runs;
    engine extension per SURVEY.md §2): word-3-gram shingles of each
    candidate doc are probed against the distinct shingle set of a
    "benchmark" corpus (here the deterministic doc_id % 97 subset);
    docs exceeding 50% overlap are flagged for removal.

    Scale: the benchmark shingle set is small by construction (eval
    sets are MBs, not TBs) → Spark broadcasts the build side of the
    probe join, so the candidate corpus streams through map tasks with
    ZERO shuffle before the per-doc aggregate; the aggregate keys on
    doc_id (uniform). This is the decontamination plan that survives
    100 TB: never shuffle the corpus on shingle, only the benchmark
    side is materialized. Output is bounded to overlapping docs."""
    docs = read_table(spark, sf_dir, "documents")
    sh = _shingles(docs.select("doc_id", "text"))
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    scored = (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), on="shingle", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias(
                "n_overlap"
            ),
        )
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return scored.filter(F.col("n_overlap") > 0).select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= 0.5).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (perplexity-style quality signal).
# ---------------------------------------------------------------------------


@query(
    "score_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    lm AS (
      SELECT token, count(*) AS n, sum(count(*)) OVER () AS total
      FROM tok GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id,
        count(*) AS n_tokens,
        CAST(sum(CAST(round(-ln(CAST(lm.n AS DOUBLE) / lm.total) * 1000000)
            AS BIGINT)) AS BIGINT) AS s_micro
      FROM tok t JOIN lm ON t.token = lm.token
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST((2 * s_micro + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1000000.0
        AS mean_surprisal
    FROM scored
    """,
)
def score_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained unigram
    LM (the cheap LM-filter tier — CCNet/RedPajama score docs with a
    small LM; the unigram reduction keeps it pure SQL; engine
    extension per SURVEY.md §2): token probabilities from corpus
    counts, per-doc mean surprisal -ln p averaged over tokens.
    Unusually-improbable-token docs (gibberish) score high, repetitive
    docs score low.

    Determinism: each token's surprisal is quantized to integer
    micro-units with round(x * 1e6) — BOTH engines round the SAME
    double product, unlike round(x, 6) where Spark rounds the exact
    binary value while DuckDB rounds a float-multiplied one and the
    two systematically disagree on exact 7th-decimal .5 boundaries
    (the sf0.1 parity lesson). Micros sum exactly as BIGINT
    (order-proof), the mean is an exact integer half-up division
    (2s+n) div 2n, and the final double is the same integer divided
    by 1e6 on both engines — bit-identical by construction.

    Scale: the LM is a groupBy(token) aggregate — vocabulary-sized
    output (small even at 100 TB corpus: ~millions of types), so the
    probability join back to the token stream is a broadcast; the
    per-doc aggregate shuffles on doc_id. Two shuffles total, both on
    uniform keys; the token explode itself stays partition-local and
    runs ONCE — the stream is pinned with localCheckpoint because the
    LM aggregate, its total, and the probability join all consume it
    (unpinned, the corpus re-tokenized per consumer)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = _spread(docs).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).transform(pin)
    lm = tok.groupBy("token").agg(F.count("*").alias("n"))
    total = lm.agg(F.sum("n").alias("total"))
    lm = lm.crossJoin(F.broadcast(total))
    surprisal_micro = F.round(
        -F.log(F.col("n").cast("double") / F.col("total")) * 1000000, 0
    ).cast("long")
    return (
        tok.join(
            F.broadcast(lm.select("token", surprisal_micro.alias("sm"))),
            on="token",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("sm").alias("s_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.expr(
                    "(2 * s_micro + n_tokens) div (2 * n_tokens)"
                ).cast("double")
                / 1000000.0
            ).alias("mean_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-then-cut training batch assembly).
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "pack_training_sequences",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
        len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT lang, doc_id, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
          AS offset_tokens
      FROM tok
    )
    SELECT lang,
      CAST(offset_tokens // {_PACK_BUDGET} AS BIGINT) AS seq_id,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM placed
    GROUP BY lang, offset_tokens // {_PACK_BUDGET}
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (training-batch assembly: concatenate docs in
    a deterministic order, cut every ``{_PACK_BUDGET}`` tokens — the
    GPT-style pack-then-split that wastes no context window; engine
    extension per SURVEY.md §2): each doc's starting token offset is a
    running sum within its language stream; the containing sequence id
    is offset // budget. Documents may straddle a boundary — the
    tokenizer stage does the intra-doc split; this op decides the
    grouping, which is the distributed-shuffle part of the problem.

    Scale: ONE window (running sum) per language partition — shuffle
    on lang + in-partition sort by doc_id, then a groupBy on (lang,
    seq_id) that AQE coalesces. The window is the honest cost: packing
    is order-defined, so a total per-stream order is irreducible; at
    100 TB shard the stream key further (lang, doc_id // N) to bound
    partition size, which keeps sequences deterministic within
    shards. Offset composition is operators/packing.py
    with_stream_offsets (cross-engine fuzzed in
    tests/test_pack_fuzz.py)."""
    from wiki_data_pipeline_spark.operators.packing import with_stream_offsets

    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    placed = with_stream_offsets(
        docs.select("lang", "doc_id", n_tokens.alias("n_tokens")),
        stream="lang",
        order="doc_id",
        size="n_tokens",
    )
    return (
        placed.groupBy(
            "lang",
            # integer div, not /: floor-through-double is lossy past 2^53
            F.expr(f"offset_tokens div {_PACK_BUDGET}").alias("seq_id"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar quantization of embeddings (int8 ANN-serving prep).
# ---------------------------------------------------------------------------


@query(
    "emb_scalar_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
        list_min(embedding::DOUBLE[]) AS vmin,
        list_max(embedding::DOUBLE[]) AS vmax
      FROM embeddings WHERE {_FINITE_EMB_SQL}
    ),
    q AS (
      SELECT vec_id, e, vmin, vmax,
        list_transform(e, x -> CAST(CASE WHEN vmax > vmin THEN
          least(255.0, floor((x - vmin) / (vmax - vmin) * 256.0))
          ELSE 0.0 END AS BIGINT)) AS codes
      FROM v
    )
    SELECT vec_id, vmin, vmax,
      array_to_string(codes, ',') AS codes_csv,
      list_aggregate(list_transform(generate_series(1, len(e)),
        i -> (e[i] - (vmin + (codes[i] + 0.5) * (vmax - vmin) / 256.0))
           * (e[i] - (vmin + (codes[i] + 0.5) * (vmax - vmin) / 256.0))),
        'sum') / len(e) AS recon_mse
    FROM q
    """,
)
def emb_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of embeddings — the ANN-serving
    compression step (4× smaller vectors; engine extension per
    SURVEY.md §2, embedding-pipeline family): per-vector min/max
    range, 256-bin floor binning (floor, not round — no cross-engine
    half-to-even hazard), plus the mean squared reconstruction error
    as the quality audit metric. Codes are emitted CSV-serialized
    (comparators hash scalars, not arrays).

    Determinism: min/max/scale/floor are exact IEEE ops; the MSE fold
    is the same left-to-right aggregate as the cosine/sq_dist family.

    Scale: fully narrow — one projection chain per vector, no
    shuffle, no Python; at 100 TB this is a map-only rewrite of the
    vector table, and the quantized table feeds the IVF/LSH probes
    (sim_ann_ivf) at a quarter of the scan bytes."""
    from wiki_data_pipeline_spark.functions.vectors import vec_is_finite

    # garbage-embedding gate: NaN components split min/max asymmetry
    # across engines (Spark array_min skips NaN where list_max keeps
    # it) and quantize to nothing meaningful — excluded by contract
    emb = read_table(spark, sf_dir, "embeddings").filter(
        vec_is_finite("embedding")
    )
    e = F.col("e")
    vmin, vmax = F.col("vmin"), F.col("vmax")
    # vmax > vmin guard: a CONSTANT vector (dead/padding embedding) has
    # zero range — the unguarded scale would DIVIDE_BY_ZERO-crash under
    # Spark 4's ANSI mode (and NULL-pollute DuckDB, whose NULL-skipping
    # least() would then emit code 255). Degenerate semantics: all
    # codes 0, reconstruction = vmin exactly, MSE 0. Pinned
    # cross-engine in tests/test_degenerate_embeddings.py.
    codes = F.transform(
        e,
        lambda x: F.when(
            vmax > vmin,
            F.least(
                F.lit(255.0), F.floor((x - vmin) / (vmax - vmin) * 256.0)
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("bigint"),
    )
    recon = lambda x, c: vmin + (c + F.lit(0.5)) * (vmax - vmin) / 256.0  # noqa: E731
    base = (
        _spread(emb)
        .select("vec_id", as_double("embedding").alias("e"))
        .select(
            "vec_id", "e",
            F.array_min(e).alias("vmin"), F.array_max(e).alias("vmax"),
        )
        .select("vec_id", "e", "vmin", "vmax", codes.alias("codes"))
    )
    mse = F.try_divide(
        F.aggregate(
            F.zip_with(
                F.col("e"), F.col("codes"),
                lambda x, c: (x - recon(x, c)) * (x - recon(x, c)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        F.size(F.col("e")),  # try_divide: 0-dim vector → NULL, not ANSI crash
    )
    return base.select(
        "vec_id", "vmin", "vmax",
        F.array_join("codes", ",").alias("codes_csv"),
        mse.alias("recon_mse"),
    )


# ---------------------------------------------------------------------------
# Incremental cross-batch MinHash dedup (continuous-ingest shape).
# ---------------------------------------------------------------------------

_INCR_SPLIT = 100000  # doc_id >= split → the "new batch" (synth dups)


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT DISTINCT n.doc_id AS new_doc, e.doc_id AS existing_doc
    FROM bands n
    JOIN bands e ON n.band_idx = e.band_idx AND n.sig = e.sig
      AND n.doc_id >= {_INCR_SPLIT} AND e.doc_id < {_INCR_SPLIT}
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) near-dedup — the continuous-ingest
    form of ``dedup_minhash_lsh`` (generalizes reference F9's
    dedup-on-insert anti-join, src/queue_manager.py:52-58, from exact
    title identity to near-dup content identity): only pairs that
    CROSS the batch boundary are produced — new docs (the synthesized
    doc_id ≥ {_INCR_SPLIT} duplicates in the dedup corpus) probing the
    existing corpus. A new doc with any match is a drop candidate; the
    within-batch and within-existing pairs are deliberately excluded
    (the existing corpus is already deduped; within-batch dedup is the
    plain pass).

    Scale: THE reason minhash signatures are stored, not recomputed —
    at 100 TB the existing side is a persisted (band, sig, doc_id)
    table bucketed by (band, sig), so each ingest batch shingles ONLY
    its own docs (narrow, batch-sized) and joins against the bucketed
    signature store with zero shuffle of the store. Here both sides
    derive from one corpus expression; the split predicates are pushed
    below the band explode by Catalyst either way."""
    corpus = _dedup_corpus(spark, sf_dir)
    bands = _minhash_bands(corpus)
    new_side = bands.filter(F.col("doc_id") >= _INCR_SPLIT).select(
        "band_idx", "sig", F.col("doc_id").alias("new_doc")
    )
    old_side = bands.filter(F.col("doc_id") < _INCR_SPLIT).select(
        "band_idx", "sig", F.col("doc_id").alias("existing_doc")
    )
    return (
        new_side.join(old_side, on=["band_idx", "sig"])
        .select("new_doc", "existing_doc")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Multimodal resize / frame-sample as oracle-checked registry queries
# (the mapInPandas plumbing of operators/multimodal.py, hash-checked
# end-to-end byte-wise — stub codec over ASCII text payloads).
# ---------------------------------------------------------------------------

_RESIZE_TARGET = 64


@query(
    "multimodal_resize_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    )
    SELECT doc_id,
      'text/plain' AS media_type,
      CAST(n AS BIGINT) AS orig_bytes,
      CAST(CASE WHEN n IS NULL THEN NULL
           ELSE least(n, {_RESIZE_TARGET}) END AS BIGINT) AS resized_bytes,
      hex(encode(CASE WHEN n <= {_RESIZE_TARGET} THEN text ELSE
        array_to_string(list_transform(
          generate_series(0, {_RESIZE_TARGET} - 1),
          i -> substr(text,
                 CAST(floor(i * (n / {_RESIZE_TARGET}.0)) AS BIGINT) + 1, 1)),
          '') END)) AS resized_hex
    FROM t
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``resize_media`` mapInPandas operator as an oracle-checked
    query (multimodal family — BASELINE.json extension): binary
    payloads stride-subsampled to ≤{_RESIZE_TARGET} bytes; the resized
    payload is emitted hex-encoded so the comparator hashes a scalar.
    The stub 'codec' (byte-identity over text/plain) is exactly
    SQL-expressible byte-wise over the ASCII fixture — the whole
    Arrow-batched Python path is hash-checked, not just row-counted.

    Scale: shrink-early map stage — output strictly smaller than
    input, no shuffle (see operators/multimodal.py:resize_media)."""
    from wiki_data_pipeline_spark.operators.multimodal import resize_media

    docs = read_table(spark, sf_dir, "documents")
    # no _spread: the map stage is I/O-light and each extra partition
    # costs a Python-worker spawn on a cold run (32 × ~1 s dominated
    # the fixture-scale wall; at real scale partition count comes from
    # the scan splits anyway)
    media = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )
    out = resize_media(media, target_bytes=_RESIZE_TARGET)
    return out.select(
        "doc_id",
        "media_type",
        "orig_bytes",
        "resized_bytes",
        F.hex("payload").alias("resized_hex"),
    )


_FRAME_SIZE = 16
_FRAME_EVERY = 4


@query(
    "multimodal_frame_stats",
    # BYTE-based frame slicing (adversarial-fixture finding, same class
    # as the audio_stats ADVICE fix): the Spark path frames the UTF-8
    # payload BYTES; substr(text, ...) slices CHARACTERS and diverges
    # on any non-ASCII document. Slicing the hex of the encoded blob
    # (2 hex chars per byte) IS the byte slice.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, hex(encode(text)) AS h,
        octet_length(encode(text)) AS n
      FROM documents
    ),
    f AS (
      SELECT doc_id, h,
        unnest(generate_series(0, CAST(n // {_FRAME_SIZE} AS BIGINT) - 1,
                               {_FRAME_EVERY})) AS frame_idx
      FROM t WHERE n >= {_FRAME_SIZE}
    )
    SELECT doc_id,
      CAST(frame_idx AS INT) AS frame_idx,
      CAST({_FRAME_SIZE} AS BIGINT) AS n_frame_bytes,
      substr(h, frame_idx * {_FRAME_SIZE} * 2 + 1,
             {_FRAME_SIZE} * 2) AS frame_hex
    FROM f
    """,
)
def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``sample_frames`` fan-out mapInPandas operator as an
    oracle-checked query (multimodal family): payloads cut into
    consecutive {_FRAME_SIZE}-byte frames, every {_FRAME_EVERY}th
    emitted as its own row — the rows-out > rows-in shape a real video
    decoder produces, hash-checked frame-by-frame via hex encoding.

    Scale: fan-out happens inside the partition (no shuffle);
    downstream per-frame feature extraction composes as another map
    (operators/multimodal.py:sample_frames)."""
    from wiki_data_pipeline_spark.operators.multimodal import sample_frames

    docs = read_table(spark, sf_dir, "documents")
    # no _spread — see multimodal_resize_stats (cold worker spawns)
    media = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
    )
    out = sample_frames(media, frame_size=_FRAME_SIZE, every_n=_FRAME_EVERY)
    return out.select(
        "doc_id",
        "frame_idx",
        "n_frame_bytes",
        F.hex("frame").alias("frame_hex"),
    )


_AUDIO_MAX_BYTES = 512
_AUDIO_RATE = 8000


@query(
    "multimodal_audio_stats",
    # BYTE-based sample derivation (r11, ADVICE): the Spark path slices
    # the first {_AUDIO_MAX_BYTES} UTF-8 BYTES of text; a char/ascii()
    # spelling here would diverge on any non-ASCII document. hex() of
    # the encoded blob sliced to 2*max_bytes hex chars == the byte
    # slice; each hex pair parses via strpos into the byte value.
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
        substr(hex(encode(coalesce(text, ''))), 1,
               {_AUDIO_MAX_BYTES * 2}) AS h
      FROM documents
    ),
    sm AS (
      SELECT doc_id,
        list_transform(generate_series(1, length(h) // 2),
          i -> ((strpos('0123456789ABCDEF', substr(h, (i-1)*2+1, 1)) - 1)
                  * 16
                + strpos('0123456789ABCDEF', substr(h, (i-1)*2+2, 1))
                - 1 - 128) * 256) AS smp
      FROM s
    )
    SELECT doc_id,
      CAST(len(smp) AS BIGINT) AS n_samples,
      CAST({_AUDIO_RATE} AS INT) AS sample_rate,
      len(smp) / {_AUDIO_RATE}.0 AS duration_sec,
      CASE WHEN len(smp) = 0 THEN NULL
           ELSE sqrt(list_aggregate(
                  list_transform(smp, x -> CAST(x AS DOUBLE) * x), 'sum')
                / len(smp)) END AS rms,
      CAST(CASE WHEN len(smp) = 0 THEN NULL
                ELSE list_aggregate(list_transform(smp, x -> abs(x)), 'max')
           END AS INT) AS peak
    FROM sm
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end-to-end (multimodal family — de-stubs the
    audio branch): each document's leading bytes become PCM16 samples
    inside a genuine stdlib-``wave`` RIFF container (`audio/wav`), then
    ``audio_stats`` decodes the container back through ``wave``/
    ``struct`` and emits duration, RMS, and peak per document. Because
    the sample derivation is byte-wise SQL-expressible, the DuckDB
    oracle hash-checks the full encode → RIFF parse → decode →
    aggregate path — real codec bytes, not a byte-identity stub
    (operators/multimodal.py:synthesize_wav_corpus/audio_stats).

    Float determinism: samples are integers ≤ 2^15, squared sums over
    ≤ {_AUDIO_MAX_BYTES} samples are exact in float64, so one division
    + IEEE sqrt is bitwise-identical across engines.

    Scale: two composed map stages (synthesize → decode), zero
    shuffles; linear in input bytes at 100 TB, and the
    {_AUDIO_MAX_BYTES}-byte cap bounds per-row work regardless of
    document length."""
    from wiki_data_pipeline_spark.operators.multimodal import (
        audio_stats,
        synthesize_wav_corpus,
    )

    docs = read_table(spark, sf_dir, "documents")
    # no _spread — see multimodal_resize_stats (cold worker spawns)
    media = synthesize_wav_corpus(
        docs, max_bytes=_AUDIO_MAX_BYTES, rate=_AUDIO_RATE
    )
    return audio_stats(media)


_DHASH_W = 9  # pixels per row -> 8 horizontal comparisons
_DHASH_H = 8


@query(
    "multimodal_image_dhash_dedup",
    # The synthesized pixels ARE the document's first 72 UTF-8 bytes
    # (grayscale PNG is lossless), so the oracle recomputes the dHash
    # byte-wise from hex pairs: row byte r = sum over columns c of
    # [p(r,c) > p(r,c+1)] << c, hash = 8 row bytes as 16 hex chars.
    oracle="""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
    px AS (
      SELECT doc_id,
        list_transform(generate_series(1, 72),
          i -> CASE WHEN i * 2 <= length(h)
               THEN (strpos('0123456789ABCDEF', substr(h, (i-1)*2+1, 1))
                       - 1) * 16
                    + strpos('0123456789ABCDEF', substr(h, (i-1)*2+2, 1))
                    - 1
               ELSE 0 END) AS p
      FROM b
    ),
    dh AS (
      SELECT doc_id,
        lpad(upper(hex(CASE WHEN p[1] > p[2] THEN 1 ELSE 0 END + CASE WHEN p[2] > p[3] THEN 2 ELSE 0 END + CASE WHEN p[3] > p[4] THEN 4 ELSE 0 END + CASE WHEN p[4] > p[5] THEN 8 ELSE 0 END + CASE WHEN p[5] > p[6] THEN 16 ELSE 0 END + CASE WHEN p[6] > p[7] THEN 32 ELSE 0 END + CASE WHEN p[7] > p[8] THEN 64 ELSE 0 END + CASE WHEN p[8] > p[9] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[10] > p[11] THEN 1 ELSE 0 END + CASE WHEN p[11] > p[12] THEN 2 ELSE 0 END + CASE WHEN p[12] > p[13] THEN 4 ELSE 0 END + CASE WHEN p[13] > p[14] THEN 8 ELSE 0 END + CASE WHEN p[14] > p[15] THEN 16 ELSE 0 END + CASE WHEN p[15] > p[16] THEN 32 ELSE 0 END + CASE WHEN p[16] > p[17] THEN 64 ELSE 0 END + CASE WHEN p[17] > p[18] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[19] > p[20] THEN 1 ELSE 0 END + CASE WHEN p[20] > p[21] THEN 2 ELSE 0 END + CASE WHEN p[21] > p[22] THEN 4 ELSE 0 END + CASE WHEN p[22] > p[23] THEN 8 ELSE 0 END + CASE WHEN p[23] > p[24] THEN 16 ELSE 0 END + CASE WHEN p[24] > p[25] THEN 32 ELSE 0 END + CASE WHEN p[25] > p[26] THEN 64 ELSE 0 END + CASE WHEN p[26] > p[27] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[28] > p[29] THEN 1 ELSE 0 END + CASE WHEN p[29] > p[30] THEN 2 ELSE 0 END + CASE WHEN p[30] > p[31] THEN 4 ELSE 0 END + CASE WHEN p[31] > p[32] THEN 8 ELSE 0 END + CASE WHEN p[32] > p[33] THEN 16 ELSE 0 END + CASE WHEN p[33] > p[34] THEN 32 ELSE 0 END + CASE WHEN p[34] > p[35] THEN 64 ELSE 0 END + CASE WHEN p[35] > p[36] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[37] > p[38] THEN 1 ELSE 0 END + CASE WHEN p[38] > p[39] THEN 2 ELSE 0 END + CASE WHEN p[39] > p[40] THEN 4 ELSE 0 END + CASE WHEN p[40] > p[41] THEN 8 ELSE 0 END + CASE WHEN p[41] > p[42] THEN 16 ELSE 0 END + CASE WHEN p[42] > p[43] THEN 32 ELSE 0 END + CASE WHEN p[43] > p[44] THEN 64 ELSE 0 END + CASE WHEN p[44] > p[45] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[46] > p[47] THEN 1 ELSE 0 END + CASE WHEN p[47] > p[48] THEN 2 ELSE 0 END + CASE WHEN p[48] > p[49] THEN 4 ELSE 0 END + CASE WHEN p[49] > p[50] THEN 8 ELSE 0 END + CASE WHEN p[50] > p[51] THEN 16 ELSE 0 END + CASE WHEN p[51] > p[52] THEN 32 ELSE 0 END + CASE WHEN p[52] > p[53] THEN 64 ELSE 0 END + CASE WHEN p[53] > p[54] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[55] > p[56] THEN 1 ELSE 0 END + CASE WHEN p[56] > p[57] THEN 2 ELSE 0 END + CASE WHEN p[57] > p[58] THEN 4 ELSE 0 END + CASE WHEN p[58] > p[59] THEN 8 ELSE 0 END + CASE WHEN p[59] > p[60] THEN 16 ELSE 0 END + CASE WHEN p[60] > p[61] THEN 32 ELSE 0 END + CASE WHEN p[61] > p[62] THEN 64 ELSE 0 END + CASE WHEN p[62] > p[63] THEN 128 ELSE 0 END)), 2, '0') ||
        lpad(upper(hex(CASE WHEN p[64] > p[65] THEN 1 ELSE 0 END + CASE WHEN p[65] > p[66] THEN 2 ELSE 0 END + CASE WHEN p[66] > p[67] THEN 4 ELSE 0 END + CASE WHEN p[67] > p[68] THEN 8 ELSE 0 END + CASE WHEN p[68] > p[69] THEN 16 ELSE 0 END + CASE WHEN p[69] > p[70] THEN 32 ELSE 0 END + CASE WHEN p[70] > p[71] THEN 64 ELSE 0 END + CASE WHEN p[71] > p[72] THEN 128 ELSE 0 END)), 2, '0') AS dhash
      FROM px
    ),
    bk AS (
      SELECT dhash, count(*) AS n_bucket, min(doc_id) AS canonical
      FROM dh GROUP BY dhash
    )
    SELECT d.doc_id, d.dhash,
      CAST(bk.n_bucket AS BIGINT) AS n_bucket,
      d.doc_id = bk.canonical AS keep
    FROM dh d JOIN bk USING (dhash)
    """,
)
def multimodal_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE dedup (dHash — the fingerprint
    LAION/CommonCrawl-scale image pipelines bucket on; completes the
    multimodal dedup matrix next to the text MinHash/SimHash and
    embedding-cosine families): every document's leading bytes become
    a REAL spec-valid grayscale PNG (stdlib zlib/struct codec — no
    image library needed, runs in every environment), the REAL decode
    path recovers the pixels, and the difference hash — one bit per
    horizontally-adjacent pixel pair — buckets byte-identical and
    brightness-shifted near-identical images together. Per image:
    its hash, bucket size, and the keep flag (min doc_id per bucket
    survives, the dedup_exact convention).

    Scale: synthesis/decode/hash are one fused Arrow map pass (no
    shuffle); the only shuffle is groupBy(dhash) — 64-bit-uniform key,
    map-side combine, bucket table is distinct-hash-sized. Hamming-
    near pairing generalizes by banding the 8 row-bytes (the SimHash
    posture); exact-bucket grouping is the LAION dedup baseline. The
    PNG codec runs INSIDE the oracle-checked path — grayscale PNG is
    lossless, so the decoded pixels equal the byte derivation and the
    DuckDB oracle can verify the full encode→decode→hash pipeline.

    Reference analog: none (SURVEY.md §2.10 multimodal extension);
    operators in operators/multimodal.py (synthesize_png_corpus /
    image_dhash)."""
    from wiki_data_pipeline_spark.operators.multimodal import (
        image_dhash,
        synthesize_png_corpus,
    )

    docs = read_table(spark, sf_dir, "documents")
    # no _spread — cold-worker-spawn hazard (see multimodal_frame_stats)
    media = synthesize_png_corpus(docs, width=_DHASH_W, height=_DHASH_H)
    # pinned: the hash frame feeds the bucket aggregate AND the join
    # back — unpinned, the PNG encode→decode→hash Python pass runs
    # twice (the dedup_paragraph_chunks lesson)
    hashed = image_dhash(media, width=_DHASH_W, height=_DHASH_H).transform(pin)
    buckets = hashed.groupBy("dhash").agg(
        F.count("*").cast("bigint").alias("n_bucket"),
        F.min("doc_id").alias("canonical"),
    )
    return (
        hashed.join(buckets, on="dhash")
        .select(
            "doc_id",
            "dhash",
            "n_bucket",
            (F.col("doc_id") == F.col("canonical")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style heuristic quality filters (repetition + stopword
# signals) — the document-level gate a pretraining pipeline runs
# before dedup.
# ---------------------------------------------------------------------------


@query(
    "quality_gopher_filters",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    uni AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok),
    uni_stats AS (
      SELECT doc_id,
        CAST(sum(cnt) AS BIGINT) AS n_words,
        CAST(max(cnt) AS BIGINT) AS top_cnt,
        CAST(sum(cnt * length(tok)) AS BIGINT) AS char_sum,
        CAST(sum(CASE WHEN tok IN ('the', 'a') THEN cnt ELSE 0 END)
             AS BIGINT) AS stop_cnt
      FROM uni GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t WHERE len(toks) >= 2
    ),
    bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
    bi_stats AS (
      SELECT doc_id,
        CAST(sum(c) AS BIGINT) AS n_bi,
        CAST(count(*) AS BIGINT) AS n_bi_distinct
      FROM bgc GROUP BY doc_id
    )
    SELECT u.doc_id,
      u.n_words,
      u.char_sum / u.n_words AS mean_word_len,
      u.stop_cnt / u.n_words AS stopword_ratio,
      u.top_cnt / u.n_words AS top_unigram_ratio,
      (b.n_bi - b.n_bi_distinct) / b.n_bi AS dup_bigram_ratio,
      CAST(u.n_words BETWEEN 50 AND 100000
       AND u.char_sum / u.n_words BETWEEN 3.0 AND 10.0
       AND u.stop_cnt / u.n_words >= 0.02
       AND u.top_cnt / u.n_words <= 0.20
       AND (b.n_bi - b.n_bi_distinct) / b.n_bi <= 0.60 AS INT) AS passes
    FROM uni_stats u LEFT JOIN bi_stats b USING (doc_id)
    """,
)
def quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/ST4 quality-gate lineage (reference valid-document gate,
    src/data_processor.py:48-56) generalized to a Gopher/C4-style
    heuristic quality gate: per-doc word count,
    mean word length, stopword ratio, top-unigram fraction (Gopher's
    "fraction of the doc that is its most common word"), and duplicate
    2-gram fraction (Gopher's repeated-n-gram signal), plus the
    composed pass/fail flag.

    Scale design: MAP-ONLY. Every metric is a per-document function of
    the token array, so no byte of token data ever crosses the wire —
    the r9 shuffle audit showed the previous explode→groupBy spelling
    re-shuffling 14x the corpus bytes (8.3 MB for a 0.59 MB table at
    sf0.1; petabytes at 100 TB) for what a single projection computes.
    Also NOT the narrow quadratic form (``transform(distinct, t ->
    size(filter(toks, =t)))`` is O(distinct·len) per doc): the
    top-unigram count rides ``array_sort`` + ONE linear ``aggregate``
    run-length pass (O(n log n) per doc, JVM codegen), and the distinct
    bigram count is adjacent-inequality over the sorted bigram array
    via index-aware ``filter``. The only exchange left is `_spread`'s
    tiny fixture-parallelism repartition of raw doc rows (conditional
    since r13 — absent entirely on a pre-split production scan). Everything
    JVM-side; ratios are exact int/int double divisions so the oracle
    hash-matches bitwise."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # NULL text drops the doc (explode/unnest semantics both engines)
    base = (
        _spread(docs)
        .select("doc_id", toks.alias("toks"))
        .filter(F.col("toks").isNotNull())
    )
    one = F.lit(1).cast("bigint")

    def _run_step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + one).otherwise(one)
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_cnt = F.aggregate(
        F.array_sort("toks"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    # sorted bigram array; NULL (not empty) when <2 tokens so the
    # downstream ratios go NULL exactly like the old LEFT JOIN miss
    bigrams_sorted = F.when(
        F.size("toks") >= 2,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ", F.get(F.col("toks"), i), F.get(F.col("toks"), i + 1)
                ),
            )
        ),
    )
    stats = base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.aggregate(
            "toks",
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t).cast("bigint"),
        ).alias("char_sum"),
        F.size(F.filter("toks", lambda t: t.isin("the", "a")))
        .cast("bigint")
        .alias("stop_cnt"),
        top_cnt.alias("top_cnt"),
        bigrams_sorted.alias("sb"),
    )
    dup_bi_cnt = F.size(
        F.filter(
            "sb",
            lambda x, i: (i > F.lit(0)) & (x == F.get(F.col("sb"), i - 1)),
        )
    ).cast("bigint")
    j = stats.select(
        "doc_id",
        "n_words",
        "char_sum",
        "stop_cnt",
        "top_cnt",
        F.size("sb").cast("bigint").alias("n_bi"),
        (F.size("sb").cast("bigint") - dup_bi_cnt).alias("n_bi_distinct"),
    )
    mwl = F.col("char_sum") / F.col("n_words")
    stop_r = F.col("stop_cnt") / F.col("n_words")
    top_r = F.col("top_cnt") / F.col("n_words")
    dup_bi = (F.col("n_bi") - F.col("n_bi_distinct")) / F.col("n_bi")
    passes = (
        F.col("n_words").between(50, 100000)
        & mwl.between(3.0, 10.0)
        & (stop_r >= 0.02)
        & (top_r <= 0.20)
        & (dup_bi <= 0.60)
    )
    return j.select(
        "doc_id",
        "n_words",
        mwl.alias("mean_word_len"),
        stop_r.alias("stopword_ratio"),
        top_r.alias("top_unigram_ratio"),
        dup_bi.alias("dup_bigram_ratio"),
        passes.cast("int").alias("passes"),
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    cedges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    cnodes AS (SELECT DISTINCT u AS node FROM cedges),
    reach(node, lbl) AS (
      SELECT node, node FROM cnodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN cedges e ON e.u = r.node
    ),
    comp AS (
      SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
      FROM reach GROUP BY node
    ),
    q AS (
      SELECT doc_id,
        0.6 * least(1.0, cc / 500.0)
          + 0.4 * least(1.0, ((cc - (wc - 1)) / wc) / 8.0) AS quality_score
      FROM (
        SELECT doc_id,
          CAST(length(text) AS DOUBLE) AS cc,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS wc
        FROM corpus
      )
    ),
    lab AS (
      SELECT q.doc_id,
        COALESCE(c.component_id, q.doc_id) AS component_id,
        q.quality_score
      FROM q LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component_id, quality_score
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY component_id
        ORDER BY quality_score DESC, doc_id) AS rn
      FROM lab
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: one canonical document per
    near-duplicate cluster. Composes the MinHash cluster components
    with the heuristic quality score — within each component keep the
    highest-quality doc (ties → lowest doc_id, so exact copies keep
    the original); docs in no cluster are their own component and
    survive unchanged. This is the keep-list a training pipeline joins
    against before tokenization.

    Scale: components from the iterative min-label plan (bounded
    rounds, localCheckpoint lineage control); the quality projection
    is narrow; the left join keys doc_id with NO broadcast hint (r15,
    verdict item 1): only clustered docs appear in the components
    table, but at a realistic dup rate that is a corpus-FRACTION
    table — it grows with the data, so a hard ``F.broadcast`` would
    force an OOM-class build into every executor at 100 TB (the exact
    both-sides-grow shape ``cdc_merge_plan`` refused to hint). The
    strategy is now the planner's call from stats: statically the
    checkpointed components frame has unknown size → SortMergeJoin;
    at runtime AQE sees the tiny build side but (measured at sf0.1)
    keeps the shuffle join with local reads — its demote rule fires on
    the mostly-empty build-side partitions, and the already-written
    probe shuffle makes conversion pointless. Either outcome is a
    stats-driven decision that stays safe when comp grows 1000×. The
    per-component top-1
    is a rank-1 window that Spark rewrites to WindowGroupLimit —
    partial top-1 per map task before the (component_id) exchange,
    never a full sort of the corpus."""
    corpus = _dedup_corpus(spark, sf_dir)
    comp = dedup_cluster_components(spark, sf_dir)
    cc = F.length("text").cast("double")
    wc = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    awl = (cc - (wc - 1)) / wc
    quality = 0.6 * F.least(F.lit(1.0), cc / 500.0) + 0.4 * F.least(
        F.lit(1.0), awl / 8.0
    )
    scored = corpus.select("doc_id", quality.alias("quality_score"))
    labeled = scored.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
        "quality_score",
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "component_id", "quality_score")
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-chunk (GPT-style pretraining
# packing — tokens laid end-to-end, cut into fixed-capacity bins).
# ---------------------------------------------------------------------------

_PACK_CAP = 512


@query(
    "pack_sequences_concat",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
        CAST(COALESCE(SUM(n) OVER (
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS BIGINT) AS start
      FROM t
    ),
    x AS (
      SELECT doc_id, n, start,
        unnest(generate_series(start // {_PACK_CAP},
                               (start + n - 1) // {_PACK_CAP})) AS bin_id
      FROM c
    )
    SELECT doc_id,
      CAST(bin_id AS BIGINT) AS bin_id,
      CAST(least((bin_id + 1) * {_PACK_CAP}, start + n)
           - greatest(bin_id * {_PACK_CAP}, start) AS BIGINT) AS tokens_in_bin
    FROM x
    """,
)
def pack_sequences_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 fixed-size-batching lineage (reference batch cutter,
    src/main.py:137-142) in concatenate-and-chunk form: whitespace-token
    counts laid end-to-end in doc_id order and cut into fixed
    {_PACK_CAP}-token bins; each output row is (doc, bin, tokens of
    the doc landing in that bin). Docs straddling a boundary appear in
    every bin they touch — exactly what a pretraining loader that
    packs by concatenation produces (the bin is the training
    sequence, tokens_in_bin the doc's contribution).

    Scale: the global running offset is the l3 two-pass pattern, NOT a
    single-partition window — range-partition by doc_id, per-partition
    token sums (one tiny job, #partitions rows collected), cumulative
    offsets broadcast back, intra-partition cumsum via a per-partition
    window. The bin fan-out is a narrow sequence+posexplode. Integer
    `div` arithmetic end-to-end — bitwise-identical to the oracle.
    Composition lives in operators/packing.py (with_global_offsets +
    with_bin_spans — cross-engine fuzzed on bin-edge / wider-than-cap /
    zero-token corpora in tests/test_pack_fuzz.py)."""
    from wiki_data_pipeline_spark.operators.packing import (
        with_bin_spans,
        with_global_offsets,
    )

    docs = read_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n"),
    )
    started = with_global_offsets(counted, order="doc_id", size="n", out="start")
    return with_bin_spans(started, cap=_PACK_CAP).select(
        "doc_id", "bin_id", "tokens_in_bin"
    )


# ---------------------------------------------------------------------------
# Domain/language mixture resampling (temperature sampling).
# ---------------------------------------------------------------------------

_MIX_ALPHA_SQL = "sqrt(CAST(ns AS DOUBLE))"  # α = 0.5 temperature
_MIX_BUDGET = 0.5  # keep ~50% of the corpus overall


@query(
    "sample_domain_temperature",
    oracle=f"""
    WITH n AS (
      SELECT source, count(*) AS ns, sum(count(*)) OVER () AS total
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, ns, total,
        CAST(round({_MIX_ALPHA_SQL}, 6) AS DECIMAL(28, 6)) AS sq
      FROM n
    ),
    s AS (SELECT *, sum(sq) OVER () AS ssum FROM w),
    p AS (
      SELECT source,
        round(least(1.0,
          ({_MIX_BUDGET} * total * CAST(sq AS DOUBLE))
            / (CAST(ssum AS DOUBLE) * ns)), 6) AS rate
      FROM s
    )
    SELECT d.doc_id, d.source, p.rate
    FROM documents d JOIN p USING (source)
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < rate * 1000000
    """,
)
def sample_domain_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling with temperature smoothing (engine
    extension per SURVEY.md §2 — the data-mixing step of multi-domain
    corpus prep, the exponent-smoothed sampling of multilingual LM
    training: target share per source ∝ count^α with α=0.5, so
    head domains are down-weighted and tail domains up-weighted,
    within a fixed ~50%-of-corpus token budget). Acceptance is
    per-source deterministic hash thresholding (md5 mod 1e6 <
    rate·1e6), so membership is stable under reruns, repartitioning
    and engine changes — the same primitive as sample_stable_hash.

    Determinism: per-source sqrt is rounded to 6 decimals and summed
    as DECIMAL (addition-order-proof); the final rate is one double
    division of bit-identical inputs, rounded to 6 — both engines
    compute the same literal threshold.

    Scale: the rate table is |sources| rows (tiny) — computed from one
    small groupBy and broadcast back; the acceptance filter is then a
    narrow map over the scan. One small shuffle + one broadcast join
    at any corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count("*").alias("ns")).withColumn(
        "sq", F.round(F.sqrt(F.col("ns").cast("double")), 6).cast("decimal(28,6)")
    )
    # one aggregate over n: the per-source rows ride along as a one-row
    # list next to both totals, so the count aggregate runs once
    rate = (
        n.agg(
            F.collect_list(F.struct("source", "ns", "sq")).alias("rows"),
            F.sum("ns").alias("total"),
            F.sum("sq").alias("ssum"),
        )
        .select(F.inline("rows"), "total", "ssum")
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0),
                    (_MIX_BUDGET * F.col("total") * F.col("sq").cast("double"))
                    / (F.col("ssum").cast("double") * F.col("ns")),
                ),
                6,
            ).alias("rate"),
        )
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 1000000
    return (
        docs.join(F.broadcast(rate), on="source")
        .filter(bucket < F.col("rate") * 1000000)
        .select("doc_id", "source", "rate")
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal scoring with per-language quality buckets.
# ---------------------------------------------------------------------------


@query(
    "score_bigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, t[i] AS ctx, t[i] || ' ' || t[i+1] AS bigram
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
    ),
    c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY bigram),
    c1 AS (SELECT ctx, count(*) AS n1 FROM bg GROUP BY ctx),
    v AS (
      SELECT count(DISTINCT tok) AS vocab FROM (
        SELECT unnest(t) AS tok FROM tok
      )
    ),
    scored AS (
      SELECT b.doc_id, b.lang, count(*) AS n_bigrams,
        CAST(sum(CAST(round(-ln((CAST(c2.n2 AS DOUBLE) + 1)
              / (c1.n1 + v.vocab)) * 1000000) AS BIGINT)) AS BIGINT)
          AS s_micro
      FROM bg b
      JOIN c2 ON c2.bigram = b.bigram
      JOIN c1 ON c1.ctx = b.ctx
      CROSS JOIN v
      GROUP BY b.doc_id, b.lang
    ),
    m AS (
      SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        CAST((2 * s_micro + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
          / 1000000.0 AS mean_surprisal
      FROM scored
    ),
    th AS (
      SELECT lang, quantile_disc(mean_surprisal, 0.33) AS p33,
        quantile_disc(mean_surprisal, 0.66) AS p66
      FROM m GROUP BY lang
    )
    SELECT m.doc_id, m.lang, m.n_bigrams, m.mean_surprisal,
      CASE WHEN m.mean_surprisal <= th.p33 THEN 'head'
           WHEN m.mean_surprisal <= th.p66 THEN 'middle'
           ELSE 'tail' END AS bucket
    FROM m JOIN th USING (lang)
    """,
)
def score_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring with per-language head/middle/tail
    buckets (engine extension per SURVEY.md §2 — the CCNet-style LM
    filter tier above score_unigram_surprisal's unigram reduction):
    an add-one-smoothed corpus bigram LM scores each doc's mean
    surprisal -ln((c(w₁w₂)+1)/(c(w₁)+|V|)); docs are then bucketed
    against their language's 33rd/66th exact discrete percentiles —
    head = most-fluent third, the slice CCNet keeps.

    Determinism: per-bigram surprisal quantized to integer micro-units
    with round(x * 1e6) — both engines round the SAME double product
    (round(x, 6) is NOT cross-engine-stable: Spark rounds the exact
    binary, DuckDB a float-multiplied value, and they systematically
    split on exact 7th-decimal .5 boundaries, which sf0.1 parity hit).
    Micros sum exactly as BIGINT, the mean is an exact integer half-up
    division, and the final double is the same integer / 1e6 on both
    engines — bit-identical, so percentile_disc bucket thresholds
    (exact data values, no interpolation) are identical too.

    Scale: bigram/context count tables are vocabulary-sized aggregates
    (shuffle on token keys — uniform); the count join back to the
    bigram stream shuffles on the bigram key. The threshold table is
    |langs| rows → broadcast. No Python anywhere. The bigram stream is
    pinned with localCheckpoint (three consumers: both count tables
    and the scoring join — unpinned, each re-tokenized and re-exploded
    the corpus), and so is the per-doc score table (consumed by the
    threshold aggregate AND the final bucket join)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _spread(docs).select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    t = F.col("t")
    bg = toks.filter(F.size(t) >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("ctx"),
                    F.concat_ws(
                        " ", F.element_at(t, i), F.element_at(t, i + 1)
                    ).alias("bigram"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "lang", "p.ctx", "p.bigram").transform(pin)
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("ctx").agg(F.count("*").alias("n1"))
    vocab = (
        toks.select(F.explode(t).alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    surprisal_micro = F.round(
        -F.log(
            (F.col("n2").cast("double") + 1) / (F.col("n1") + F.col("vocab"))
        )
        * 1000000,
        0,
    ).cast("long")
    # Per-bigram surprisal is a pure function of the bigram (n2 keys
    # it; its ctx is the text before the first space — tokens are
    # whitespace-split so they contain none — and n1/vocab attach to
    # that), so the two VOCABULARY-sized count tables join each other
    # first and the corpus-sized bigram stream is joined back ONCE on
    # bigram. The r14 shape joined the stream against c2 AND then
    # re-shuffled the full joined stream on ctx to meet c1 — one
    # entire extra exchange of the heaviest axis in the plan (guide
    # §2.3/§2.4: shuffle the lightweight proxy, not the payload).
    per_bigram = (
        c2.withColumn("ctx", F.substring_index(F.col("bigram"), " ", 1))
        .join(c1, on="ctx")
        .crossJoin(F.broadcast(vocab))
        .select("bigram", surprisal_micro.alias("smic"))
    )
    m = (
        bg.join(per_bigram, on="bigram")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("smic").alias("s_micro"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            (
                F.expr(
                    "(2 * s_micro + n_bigrams) div (2 * n_bigrams)"
                ).cast("double")
                / 1000000.0
            ).alias("mean_surprisal"),
        )
        .transform(pin)
    )
    m.createOrReplaceTempView("_bigram_scored")
    th = m.sparkSession.sql(
        """
        SELECT lang,
          percentile_disc(0.33) WITHIN GROUP (ORDER BY mean_surprisal) AS p33,
          percentile_disc(0.66) WITHIN GROUP (ORDER BY mean_surprisal) AS p66
        FROM _bigram_scored GROUP BY lang
        """
    )
    bucket = (
        F.when(F.col("mean_surprisal") <= F.col("p33"), "head")
        .when(F.col("mean_surprisal") <= F.col("p66"), "middle")
        .otherwise("tail")
    )
    return (
        m.join(F.broadcast(th), on="lang")
        .select("doc_id", "lang", "n_bigrams", "mean_surprisal", bucket.alias("bucket"))
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup (short-doc-inside-long-doc).
# ---------------------------------------------------------------------------

_CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_CORPUS_SQL}) WHERE doc_id % 100000 < {_JACCARD_MAX_DOC}
    ),
    {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
      CAST(c AS DOUBLE) / least(sa.n, sb.n) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / least(sa.n, sb.n) >= {_CONTAINMENT_THRESHOLD}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs (engine extension per
    SURVEY.md §2 dedup family): C = |∩| / min(|A|,|B|) ≥ 0.8 — the
    near-dup class Jaccard structurally misses: a short doc embedded
    in a much longer one has tiny Jaccard (union is dominated by the
    long doc) but containment ≈ 1. The training-data failure mode this
    catches is quote/excerpt duplication: boilerplate-wrapped copies
    of the same core text.

    Same inverted-index shape as dedup_ngram_jaccard (cost
    Σ posting-list², not n²; exact integer counts → bitwise-identical
    division); only the denominator changes — both scores are thin
    projections over operators/dedup.py pairwise_shingle_overlap, so a
    pipeline running both computes the shingle join once."""
    from ..operators.dedup import pairwise_containment

    corpus = _dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 100000 < _JACCARD_MAX_DOC
    )
    return pairwise_containment(corpus, _CONTAINMENT_THRESHOLD)


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (suffix-array dedup at n-gram grain).
# ---------------------------------------------------------------------------

_SPAN_N = 8  # tokens per positional span


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_CORPUS_SQL})
      WHERE doc_id % 100000 < {_JACCARD_MAX_DOC}
    ),
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
      FROM corpus
    ),
    spans AS (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(tokens) - {_SPAN_N - 1}),
          i -> md5(array_to_string(tokens[i:i+{_SPAN_N - 1}], ' ')))) AS gh
      FROM tok WHERE len(tokens) >= {_SPAN_N}
    ),
    gd AS (
      SELECT gh FROM spans GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ),
    ns AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
    nd AS (
      SELECT doc_id, count(*) AS n_dup_spans
      FROM spans JOIN gd USING (gh) GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_dup_spans,
      CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_frac
    FROM nd JOIN ns USING (doc_id)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection — the suffix-array
    exact-substring dedup of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better") approximated at fixed n-gram
    granularity, which is the form that distributes: every positional
    (overlapping, non-distinct) 8-token window is hashed; a span is
    duplicated if its hash occurs in ≥2 DISTINCT documents; each doc
    reports how much of it is cross-doc duplicated text
    (``dup_frac``). Distinct-shingle Jaccard/MinHash miss this signal
    entirely — a doc that repeats a 200-token boilerplate block keeps
    high dup_frac but can sit below any whole-doc similarity
    threshold; span grain says WHICH text to cut, not which doc.

    Scale: inverted index on the span hash — shuffle keyed on md5 (16
    bytes, uniformly distributed, no skew), count-distinct-docs per
    hash, then one join back and a per-doc count. Cost is linear in
    corpus tokens; the O(n²)-suffix-array of the paper is replaced by
    hash grouping, the standard distributed formulation. Positional
    spans (not array_distinct) so within-doc repeats weight dup_frac
    on both engines identically."""
    corpus = _dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 100000 < _JACCARD_MAX_DOC
    )
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - _SPAN_N),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, _SPAN_N))),
    )
    # The span stream has three consumers (dup-gram index, per-doc
    # span counts, the dup join) — pin it so tokenize + per-window md5
    # runs once; the materialized (doc, hash) stream is the
    # distributed stand-in for the paper's suffix array.
    spans = (
        _spread(corpus)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        .filter(F.size(toks) >= _SPAN_N)
        .select("doc_id", F.explode(grams).alias("gh"))
        .transform(pin)
    )
    dup_grams = (
        spans.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    n_spans = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    n_dup = (
        spans.join(dup_grams, on="gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return n_dup.join(n_spans, on="doc_id").select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
            "dup_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Tokenizer induction: BPE first-merge pair statistics.
# ---------------------------------------------------------------------------


@query(
    "bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        i -> substr(w, i, 2))) AS pair
      FROM words WHERE len(w) >= 2
    )
    SELECT pair, count(*) AS n_pairs
    FROM pairs GROUP BY pair
    ORDER BY n_pairs DESC, pair LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction, first merge step (engine extension per
    SURVEY.md §2.8 scalar/token surface —
    the corpus-statistics pass a training-data pipeline runs to build
    or audit its tokenizer): count every adjacent character pair
    inside whitespace words (lowercased), emit the top 50 merge
    candidates. Iterating this (merge top pair → recount) IS
    byte-pair-encoding; the first iteration is the expensive one at
    corpus scale and is a pure count, so it belongs in the engine.

    Scale: explode is linear in corpus characters; the pair vocabulary
    is tiny (≤ |alphabet|²), so map-side partial aggregation collapses
    nearly all traffic — the shuffle carries one row per (partition,
    pair). Top-50 with count-then-pair ordering is totally ordered →
    both engines pick the identical set (ties broken by pair text)."""
    docs = read_table(spark, sf_dir, "documents")
    w = F.col("w")
    pairs = F.transform(
        F.sequence(F.lit(1), F.length(w) - 1),
        lambda i: w.substr(i, F.lit(2)),
    )
    return (
        _spread(docs)
        .select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "w"
            )
        )
        .filter(F.length(w) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Tokenizer induction: iterative BPE merge training (fixed rounds).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3
# token delimiter for the oracle's string-fold representation; absent
# from the corpus by contract (C0 record separator)
_BPE_SEP = "chr(30)"


def _bpe_merge_round_sql(t_in: str, p: str, m: str, t_out: str | None) -> str:
    """One oracle round: pair counts over ``t_in`` -> top-1 merge
    ``m`` -> (optionally) ``t_out`` with the merge applied via the
    same greedy left-to-right fold the Spark side runs (DuckDB
    list_reduce over a chr(30)-delimited token string: merging the
    pair (l, r) at the fold head is exactly 'append r without a
    delimiter')."""
    sql = f"""
    {p} AS (
      SELECT pp.l AS l, pp.r AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
          i -> struct_pack(l := toks[i], r := toks[i+1]))) AS pp, freq
        FROM {t_in} WHERE len(toks) >= 2
      ) GROUP BY pp.l, pp.r
    ),
    {m} AS (SELECT l, r, n FROM {p} ORDER BY n DESC, l, r LIMIT 1)"""
    if t_out is not None:
        sql += f""",
    {t_out} AS (
      SELECT string_split(list_reduce(t.toks, (acc, x) -> CASE
          WHEN (acc = mm.l OR ends_with(acc, {_BPE_SEP} || mm.l))
               AND x = mm.r
          THEN acc || x ELSE acc || {_BPE_SEP} || x END),
        {_BPE_SEP}) AS toks, t.freq
      FROM {t_in} t CROSS JOIN {m} mm
    )"""
    return sql


@query(
    "bpe_train_merges",
    oracle=rf"""
    WITH wf AS (
      SELECT wd AS w, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS wd
        FROM documents WHERE text IS NOT NULL
      ) WHERE length(wd) >= 2
      GROUP BY wd
    ),
    t0 AS (
      SELECT list_transform(generate_series(1, length(w)),
                            i -> substr(w, i, 1)) AS toks, freq
      FROM wf
    ),
    {_bpe_merge_round_sql('t0', 'p1', 'm1', 't1')},
    {_bpe_merge_round_sql('t1', 'p2', 'm2', 't2')},
    {_bpe_merge_round_sql('t2', 'p3', 'm3', None)}
    SELECT 1 AS merge_round, l AS lhs, r AS rhs, l || r AS merged,
           n AS n_pairs FROM m1
    UNION ALL SELECT 2, l, r, l || r, n FROM m2
    UNION ALL SELECT 3, l, r, l || r, n FROM m3
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge TRAINING, {_BPE_ROUNDS} fixed rounds
    (Sennrich et al. 2016; engine extension per SURVEY.md §2.8 —
    completes the tokenizer-training story next
    to ``bpe_pair_counts``' single-step statistics): round r counts
    adjacent token pairs over the CURRENT segmentation (weighted by
    word frequency), takes the most frequent pair (total order: count
    desc, then pair text), and applies the merge greedily
    left-to-right before the next round — exactly the reference BPE
    trainer loop. Emits one row per learned merge: (round, lhs, rhs,
    merged symbol, pre-merge pair count).

    The merge application is a per-word array fold (``F.aggregate``):
    append token, or — when the fold head ends with ``lhs`` and the
    incoming token is ``rhs`` — replace the head with the merged
    symbol. A fold is inherently greedy-left-to-right, which makes
    overlapping occurrences ('aaa' under the ('a','a') merge → ['aa',
    'a']) deterministic and engine-portable; the oracle runs the SAME
    fold via DuckDB ``list_reduce`` over a delimiter-joined token
    string. Symbols are string-identified (SentencePiece convention).

    Scale (the Sennrich trick): the working set is the DISTINCT-word
    vocabulary with frequencies, not the corpus — one corpus-sized
    groupBy up front, then every round is vocabulary-sized (pair
    explode + hash agg weighted by freq, top-1 via
    TakeOrderedAndProject, merge as a narrow map). Rounds are
    fixed-count with the kmeans lineage discipline: the token frame is
    pinned (``pin``) per round, so round r+1's plan starts from
    materialized blocks instead of r compounded folds; only the single
    winning pair (a scalar) ever reaches the driver."""
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        _spread(docs)
        .filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    toks = wf.select(F.split("w", "").alias("toks"), "freq").transform(pin)
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pairs = toks.filter(F.size("toks") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS l, "
                    "element_at(toks, i + 1) AS r))"
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((rnd, a, b, a + b, n))
        if rnd == _BPE_ROUNDS:
            break  # last round only reports; no re-segmentation needed
        la, lb = F.lit(a), F.lit(b)
        toks = toks.select(
            F.aggregate(
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                F.slice(F.col("toks"), 1, 1),
                lambda acc, x: F.when(
                    (F.element_at(acc, -1) == la) & (x == lb),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(la, lb)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("toks"),
            "freq",
        ).transform(pin)
    return spark.createDataFrame(
        merges,
        "merge_round int, lhs string, rhs string, merged string, "
        "n_pairs bigint",
    )


# ---------------------------------------------------------------------------
# Product quantization: per-subspace centroid codes.
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (embedding dim 64 / 4)
_PQ_NCENT = 16   # codebook size per subspace (centroids = vec_id < 16)


def _subspace_entries(s: int) -> Column:
    """The collected codebook array filtered to subspace ``s`` — a
    closure factory, NOT an inline ``lambda c, _s=s`` (a two-parameter
    lambda makes PySpark pass the ELEMENT INDEX as the second
    argument, silently corrupting the filter)."""
    return F.filter(F.col("cents"), lambda c: c.s == s)


@query(
    "ann_pq_codes",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sub AS (
      SELECT vec_id, s, ve[s*{_PQ_SUBDIM}+1 : s*{_PQ_SUBDIM}+{_PQ_SUBDIM}] AS sv
      FROM emb, (SELECT unnest([0, 1, 2, 3]) AS s) t
    ),
    cent AS (
      SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {_PQ_NCENT}
    ),
    scored AS (
      SELECT v.vec_id, v.s, c.cid,
        round({_l2_sql('v.sv', 'c.cv')}, 6) AS d,
        row_number() OVER (PARTITION BY v.vec_id, v.s
          ORDER BY round({_l2_sql('v.sv', 'c.cv')}, 6), c.cid) AS rn
      FROM sub v JOIN cent c ON v.s = c.s
    )
    SELECT vec_id, s AS subspace, cid AS code, d AS sq_err
    FROM scored WHERE rn = 1
    """,
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (engine extension per SURVEY.md §2
    similarity family; Jégou et al. 2011, the codebook
    compression every billion-vector ANN index rests on): split each
    64-dim embedding into 4 disjoint 16-dim subspaces, assign each
    subvector to its nearest codebook centroid → 4 small codes replace
    256 floats (64× compression at k=16; 8-bit codebooks give 64→4
    bytes). Codebooks are fixed deterministically (the first 16
    vectors' subvectors — a k-means++ seeding stand-in, same
    determinism pattern as cluster_kmeans_embeddings); assignment =
    min over (rounded L2, centroid id), so both engines pick identical
    codes. sq_err is the per-subspace quantization residual — its sum
    is the reconstruction error that tunes m/k.

    Scale: codebooks are m×k tiny → broadcast; encoding is one map
    pass + a hash min_by agg keyed (vec_id, subspace) — no window
    sort, no shuffle of raw vectors beyond the initial spread. The
    encoded table (4 ints per vector) is what a 100 TB corpus ships
    to the serving tier; ADC distance tables then score candidates
    against codes, never raw floats."""
    from wiki_data_pipeline_spark.functions.vectors import sq_dist

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("ve")
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("ve", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    sub = _spread(emb).select(
        "vec_id", F.explode(subs).alias("sub")
    ).select("vec_id", F.col("sub.s").alias("s"), F.col("sub.sv").alias("sv"))
    cent = sub.filter(F.col("vec_id") < _PQ_NCENT).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    # Narrow per-subspace argmin fold (r15, guide §5): the m×k
    # codebook collects into ONE broadcast array row; each (vec,
    # subspace) row folds array_min over struct(d, cid) for its own
    # subspace's k entries — identical ordering/rounding/tie-break to
    # the min_by(struct(cid,d), struct(d,cid)) aggregate it replaces,
    # minus that form's SortAggregate over N·m·k scored rows and its
    # (vec_id, s) exchange. r16 (ADVICE item 2): the one-row codebook
    # is re-shaped into a MAP keyed by subspace in a projection on the
    # 1-row aggregate (evaluated once, before the broadcast), so each
    # data row does one O(1) map lookup + k distance folds instead of
    # filtering the full m·k array per row — per-row work back to
    # O(k). An empty codebook gives 4 empty entry arrays → the fold
    # yields NULL — filtered, matching the old inner join's empty
    # result.
    cents = cent.agg(
        F.sort_array(F.collect_list(F.struct("s", "cid", "cv"))).alias("cents")
    ).select(
        F.map_from_arrays(
            F.array(*[F.lit(s) for s in range(_PQ_M)]),
            F.array(*[_subspace_entries(s) for s in range(_PQ_M)]),
        ).alias("cmap")
    )
    best = F.array_min(
        F.transform(
            F.try_element_at(F.col("cmap"), F.col("s")),
            lambda c: F.struct(
                F.round(sq_dist(F.col("sv"), c.cv), 6).alias("d"),
                c.cid.alias("cid"),
            ),
        )
    )
    return (
        sub.crossJoin(F.broadcast(cents))
        .select("vec_id", "s", best.alias("best"))
        .filter(F.col("best").isNotNull())
        .select(
            "vec_id",
            F.col("s").alias("subspace"),
            F.col("best.cid").alias("code"),
            F.col("best.d").alias("sq_err"),
        )
    )


# The ADC scoring chain as a reusable CTE block — shared verbatim by
# the sim_ann_pq_adc oracle and the rerank oracle in pipeline_ops (the
# rerank pool cut differs, the scoring spec must not).
_PQ_ADC_CTES = f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
    sub AS (
      SELECT vec_id, s, ve[s*{_PQ_SUBDIM}+1 : s*{_PQ_SUBDIM}+{_PQ_SUBDIM}] AS sv
      FROM emb, (SELECT unnest([0, 1, 2, 3]) AS s) t
    ),
    cent AS (
      SELECT s, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < {_PQ_NCENT}
    ),
    codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT v.vec_id, v.s, c.cid,
          row_number() OVER (PARTITION BY v.vec_id, v.s
            ORDER BY round({_l2_sql('v.sv', 'c.cv')}, 6), c.cid) AS rn
        FROM sub v JOIN cent c ON v.s = c.s
      ) WHERE rn = 1
    ),
    dt AS (
      SELECT q.vec_id AS query_id, q.s, c.cid,
        CAST(round({_l2_sql('q.sv', 'c.cv')}, 6) AS DECIMAL(28,6)) AS dd
      FROM sub q JOIN cent c ON q.s = c.s
      WHERE q.vec_id < {_N_QUERIES}
    ),
    adc AS (
      SELECT dt.query_id, codes.vec_id,
        CAST(sum(dt.dd) AS DOUBLE) AS adc_dist
      FROM codes JOIN dt ON dt.s = codes.s AND dt.cid = codes.code
      WHERE codes.vec_id <> dt.query_id
      GROUP BY dt.query_id, codes.vec_id
    )"""


@query(
    "sim_ann_pq_adc",
    oracle=f"""
    WITH {_PQ_ADC_CTES}
    SELECT query_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id, adc_dist,
        row_number() OVER (PARTITION BY query_id
          ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    ) WHERE rank <= {_TOPK}
    """,
)
def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the serving-side
    half of ann_pq_codes (Jégou et al. 2011 §IV): the query stays
    un-quantized; one tiny distance table (query-subvector → each of
    the m×k codebook centroids) is built per query, and every
    database vector is scored by summing m table lookups selected by
    its stored codes — raw vectors are never touched at query time.
    Table-entry distances are rounded then summed as DECIMAL(28,6) so
    the 4-term sum is exact and order-independent (the engine's
    standard float-merge discipline); ranking breaks ties on vec_id.

    Scale: the distance table is |Q|·m·k rows → broadcast; scoring is
    a broadcast-hash join against the 4-ints-per-vector code table
    (the only thing a 100 TB corpus keeps hot) + a hash agg keyed
    (query, vec). The top-k window partitions by query_id — |Q|
    partitions of candidate rows, the standard reranker shape; recall
    tuning (m, k, rerank-with-raw) sits above this operator."""
    adc = pq_adc_distances(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )


def pq_adc_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_dist) — the unranked ADC scoring core of
    ``sim_ann_pq_adc``, shared with the rerank pipeline
    (``pipeline_ops.sim_ann_pq_rerank``), which needs a wider
    candidate pool than the ADC query's own top-k cut."""
    from wiki_data_pipeline_spark.functions.vectors import sq_dist

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("ve")
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("ve", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    sub = _spread(emb).select(
        "vec_id", F.explode(subs).alias("sub")
    ).select("vec_id", F.col("sub.s").alias("s"), F.col("sub.sv").alias("sv"))
    cent = sub.filter(F.col("vec_id") < _PQ_NCENT).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    # same narrow per-subspace argmin fold as ann_pq_codes (r15,
    # guide §5; r16 map-keyed codebook, ADVICE item 2 — O(k) per row,
    # see ann_pq_codes) — the scoring spec (round(sq_dist,6),
    # lowest-cid tie) is shared verbatim; only the kept field differs
    # (code only)
    cents = cent.agg(
        F.sort_array(F.collect_list(F.struct("s", "cid", "cv"))).alias("cents")
    ).select(
        F.map_from_arrays(
            F.array(*[F.lit(s) for s in range(_PQ_M)]),
            F.array(*[_subspace_entries(s) for s in range(_PQ_M)]),
        ).alias("cmap")
    )
    best_code = F.array_min(
        F.transform(
            F.try_element_at(F.col("cmap"), F.col("s")),
            lambda c: F.struct(
                F.round(sq_dist(F.col("sv"), c.cv), 6).alias("d"),
                c.cid.alias("cid"),
            ),
        )
    )
    codes = (
        sub.crossJoin(F.broadcast(cents))
        .select("vec_id", "s", best_code.alias("best"))
        .filter(F.col("best").isNotNull())
        .select("vec_id", "s", F.col("best.cid").alias("code"))
    )
    dq = F.round(sq_dist(F.col("sv"), F.col("cv")), 6)
    dt = (
        sub.filter(F.col("vec_id") < _N_QUERIES)
        .join(F.broadcast(cent), on="s")
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "cid",
            dq.cast("decimal(28,6)").alias("dd"),
        )
    )
    adc = (
        codes.alias("c")
        .join(
            F.broadcast(dt.alias("q")),
            (F.col("c.s") == F.col("q.s"))
            & (F.col("c.code") == F.col("q.cid"))
            & (F.col("c.vec_id") != F.col("q.query_id")),
        )
        .groupBy(F.col("q.query_id").alias("query_id"), F.col("c.vec_id").alias("vec_id"))
        .agg(F.sum("dd").cast("double").alias("adc_dist"))
    )
    return adc


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of IVF vs the exact baseline.
# ---------------------------------------------------------------------------

# Compose the already-registered oracles (registration order puts them
# above) — the eval MUST score the same definitions it evaluates.
from wiki_data_pipeline_spark.plans.registry import _REGISTRY as _QREG  # noqa: E402

# Acceptance bound for the IVF path (the sketch ε-bound pattern): an
# eval that only REPORTS recall can't fail when the index degrades, so
# every row also carries recall_ok = recall@k >= floor, and the unit
# test asserts all-ok at its fixture. 0.6 is the measured-with-margin
# floor for nprobe=3 on the 500-vector fixtures; it catches collapse
# (wrong centroid assignment, empty probes), not tuning drift. On
# isotropic-noise embeddings (sf0.1 measures intra-label cosine ≈
# inter ≈ 0) expected recall of ANY sublinear scan ≈ its scan
# fraction, so the floor is only meaningful on data with neighbor
# structure — which real embedding corpora have.
_RECALL_FLOOR = 0.6


@query(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH exact_topk AS ({_QREG['sim_cosine_topk'].oracle}),
    ivf_topk AS ({_QREG['sim_ann_ivf'].oracle}),
    hits AS (
      SELECT query_id, count(*) AS n_hits
      FROM exact_topk JOIN ivf_topk USING (query_id, vec_id)
      GROUP BY query_id
    ),
    qs AS (SELECT DISTINCT query_id FROM exact_topk)
    SELECT query_id,
      CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      CAST(coalesce(n_hits, 0) AS DOUBLE) / {_TOPK} AS recall_at_k,
      CAST(coalesce(n_hits, 0) AS DOUBLE) / {_TOPK} >= {_RECALL_FLOOR}
        AS recall_ok
    FROM qs LEFT JOIN hits USING (query_id)
    """,
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path against the exact brute-force
    baseline (the evaluation every ANN deployment runs before trading
    recall for scan cost — and the number that justifies nprobe/m/k
    choices in SCALE.md): per query, |IVF top-k ∩ exact top-k| / k.
    Both sides are THE registered queries (same plans, same rounding,
    same tie-breaks), composed — not re-derived — so the eval can't
    drift from what it evaluates; the oracle nests the same two
    registered oracle texts.

    Scale: both inputs end at |Q|·k rows, so the eval join is trivial
    regardless of corpus size — recall evaluation is cheap because
    only the BASELINE pass is expensive (O(Q·N), run on a sampled
    query set, amortized over every index rebuild)."""
    # Pin the exact-baseline frame (r16, guide §2.4 / VERDICT item 4):
    # it is consumed TWICE (the hits join and the qs distinct), and
    # without the pin both consumers re-execute the whole O(Q·N)
    # brute-force cosine pass — the registry's second-most-expensive
    # query paid its dominant term twice per run. The pinned frame is
    # |Q|·k rows (25 at fixture), so the materialization is free.
    exact = (
        sim_cosine_topk(spark, sf_dir)
        .select("query_id", "vec_id")
        .transform(pin)
    )
    ivf = sim_ann_ivf(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(ivf, on=["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    recall = F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / _TOPK
    return qs.join(hits, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        recall.alias("recall_at_k"),
        (recall >= _RECALL_FLOOR).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Unicode canonicalization (NFC + accent strip).
# ---------------------------------------------------------------------------


@query(
    "text_unicode_normalize",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
        substr(text, 1, 20) || ' Caf' || chr(233) || ' e' || chr(769) ||
          ' M' || chr(252) || 'nchen' AS raw
      FROM documents
    )
    SELECT doc_id,
      strip_accents(nfc_normalize(raw)) AS normalized,
      CAST(length(raw) AS BIGINT) AS raw_len,
      CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len
    FROM synth
    """,
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (engine extension per SURVEY.md §2.8 —
    the pass multilingual corpora need BEFORE exact/near dedup:
    composed 'é' and decomposed 'e'+U+0301 are byte-different,
    canonically equal, and hash to different md5s, so un-normalized
    corpora silently miss duplicates). NFC composes; accent-strip
    folds diacritics for fingerprinting/search keys. The fixture is
    ASCII, so each doc gets a deterministic mixed suffix (composed
    é, decomposed e+combining-acute, ü) — nfc_len < raw_len proves
    composition actually ran; normalized strings and both lengths are
    hash-checked against DuckDB's nfc_normalize/strip_accents.

    Scale: Arrow-batched pandas_udf (Spark has no NFC expression) —
    linear, map-only; at 100 TB run ONCE at ingest and persist the
    canonical form, never per-query."""
    from wiki_data_pipeline_spark.functions.unicode_norm import (
        unicode_nfc_strip_accents,
    )

    docs = read_table(spark, sf_dir, "documents")
    raw = F.concat(F.substring("text", 1, 20), F.lit(' Café é München'))
    # No _spread before the UDF: a synthetic 32-way repartition costs
    # up to 32 cold Python-worker spawns when the pool has idled out
    # mid-session (measured bimodal 1.05<->5.2 s in a full-registry
    # bench run -- the multimodal_resize_stats precedent), while the
    # per-row NFC work is trivial; a real corpus scan has natural
    # splits.
    synth = docs.select("doc_id", raw.alias("raw"))
    out = synth.select(
        "doc_id",
        unicode_nfc_strip_accents(F.col("raw")).alias("u"),
        F.length("raw").cast("bigint").alias("raw_len"),
    )
    return out.select(
        "doc_id",
        F.col("u.normalized").alias("normalized"),
        "raw_len",
        F.col("u.nfc_len").alias("nfc_len"),
    )


# ---------------------------------------------------------------------------
# Link analysis: PageRank over the near-duplicate pair graph.
# ---------------------------------------------------------------------------

_PR_ITERS = 3
# the damping factor as an exact rational (85/100) for the all-integer
# nano-unit iteration — no float ever enters the PR loop
_PR_DAMP_NUM = 85
_PR_DAMP_DEN = 100


def _pr_iter_sql(prev: str) -> str:
    # All-integer nano-unit iteration: (2a + b) // (2b) is EXACT
    # round-half-up of a/b for positive BIGINTs, so every engine
    # computes bit-identical ranks with no float anywhere in the loop.
    return f"""
      SELECT e.dst AS doc_id,
        (SELECT (2 * 150000000 + n) // (2 * n) FROM nn)
        + (2 * {_PR_DAMP_NUM} *
             sum((2 * p.pr_nano + d.outdeg) // (2 * d.outdeg))
           + {_PR_DAMP_DEN}) // (2 * {_PR_DAMP_DEN}) AS pr_nano
      FROM e
      JOIN {prev} p ON p.doc_id = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    """


def _pr_init(deg: DataFrame, nn: DataFrame) -> DataFrame:
    """Uniform initial ranks 1/N over the node set — the key set of
    the out-degree table ``deg`` (src, outdeg) — as (doc_id, pr_nano)."""
    return deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("doc_id"),
        F.expr("(2 * 1000000000 + n) div (2 * n)").alias("pr_nano"),
    )


def _pr_round(e2: DataFrame, pr: DataFrame, nn: DataFrame) -> DataFrame:
    """One PageRank power iteration: contribution join of the
    outdeg-carrying edges ``e2`` (src, dst, outdeg) onto the rank table
    ``pr`` (doc_id, pr_nano) on src, sum keyed on dst, then the damping
    step against the broadcast node-count scalar ``nn`` (n) → the next
    (doc_id, pr_nano)."""
    contrib = F.expr("(2 * pr_nano + outdeg) div (2 * outdeg)")
    return (
        e2.join(pr.withColumnRenamed("doc_id", "src"), on="src")
        .select(F.col("dst").alias("doc_id"), contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("s"))
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            F.expr(
                f"(2 * 150000000 + n) div (2 * n)"
                f" + (2 * {_PR_DAMP_NUM} * s + {_PR_DAMP_DEN})"
                f" div (2 * {_PR_DAMP_DEN})"
            ).alias("pr_nano"),
        )
    )


@query(
    "graph_pagerank_dedup",
    oracle=f"""
    WITH pairs AS ({_QREG['dedup_minhash_lsh'].oracle}),
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM e),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    pr0 AS (
      SELECT doc_id,
        (SELECT (2 * 1000000000 + n) // (2 * n) FROM nn) AS pr_nano
      FROM nodes
    ),
    pr1 AS ({_pr_iter_sql('pr0')}),
    pr2 AS ({_pr_iter_sql('pr1')}),
    pr3 AS ({_pr_iter_sql('pr2')})
    SELECT doc_id,
      CAST((2 * pr_nano + 1000) // 2000 AS DOUBLE) / 1000000.0 AS pagerank,
      CAST(row_number() OVER (
        ORDER BY (2 * pr_nano + 1000) // 2000 DESC, doc_id) AS BIGINT)
        AS rank
    FROM pr3
    ORDER BY rank LIMIT 100
    """,
)
def graph_pagerank_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate pair graph (engine
    extension per SURVEY.md §2 iterative family — link analysis, the
    corpus-quality weighting CommonCrawl-style pipelines compute;
    within dup clusters, centrality is the principled canonical-pick:
    the version most connected to other versions, vs dedup_keep_best's
    attribute heuristic). Edges are THE registered dedup_minhash_lsh
    pairs (oracle composed, not re-derived), symmetrized; 3 power
    iterations of PR ← 0.15/N + 0.85·Σ PR(in)/outdeg(in).

    Determinism across engines AND partitionings: the whole iteration
    runs in INTEGER nano-units — (2a + b) div (2b) is exact
    round-half-up of a/b for positive BIGINTs, per-edge contributions
    and the 85/100 damping are integer ops, and in-neighbor sums are
    BIGINT (order-proof). No float exists anywhere in the loop, so
    both engines produce bit-identical ranks by construction (stronger
    than the earlier round-then-DECIMAL form, whose round(x, 9) calls
    could split on decimal .5 boundaries the engines round
    differently). Scale: per round = one shuffle keyed on dst +
    broadcast of the O(1) node-count scalar; lineage truncated per
    round with localCheckpoint exactly like dedup_cluster_components;
    3 fixed rounds (dup-cluster diameters are tiny — rank gap closes
    geometrically at 0.85^t). The iteration body is ``_pr_round``,
    which the x10 sweep's compile-only stand-in (plans/scale_audit.py)
    builds too."""
    # pin the pair frame before the symmetrizing union — one LSH
    # pipeline run, not two (see _min_label_components)
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    e = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    # r16 per-iteration shuffle audit (VERDICT item 7): the r15 loop
    # recomputed the degree table AND the node-count scalar inside
    # every round's checkpoint job (lazy pins materialize round by
    # round, so nothing reuses across rounds), and re-shuffled the
    # EDGE SET by src every round for the contribution join + a
    # second edge-stream join to deg. Both are loop constants:
    # - deg is pinned once; its key set IS the node set (every node
    #   of the symmetrized graph has out-edges), so the old separate
    #   nodes-distinct pass collapses into it and nn rides it;
    # - the edges carry outdeg(src) (kmeans carry-through: the
    #   contribution needs only pr_nano(src)/outdeg(src)), hash-
    #   partitioned by src and pinned once — the per-round join
    #   re-uses the materialized partitioning, so each round moves
    #   only the node-sized rank table + the dst-keyed aggregate.
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg")).transform(pin)
    nn = deg.agg(F.count("*").cast("bigint").alias("n")).transform(pin)
    e2 = (
        e.join(deg, on="src")
        .repartition("src")
        .transform(pin)
    )
    pr = _pr_init(deg, nn)
    for _ in range(_PR_ITERS):
        pr = _pr_round(e2, pr, nn).transform(pin, eager=False)
    # TakeOrderedAndProject first (distributed top-k, no global sort),
    # THEN rank — the single-partition window sees only 100 rows.
    micro = F.expr("(2 * pr_nano + 1000) div 2000")
    top = (
        pr.select(
            "doc_id",
            micro.alias("pr_micro"),
            (micro.cast("double") / 1000000.0).alias("pagerank"),
        )
        .orderBy(F.col("pr_micro").desc(), F.col("doc_id"))
        .limit(100)
    )
    w = Window.orderBy(F.col("pr_micro").desc(), F.col("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("doc_id", "pagerank", "rank")


# ---------------------------------------------------------------------------
# SemDeDup end-to-end: cosine pair graph → components → survivors.
# ---------------------------------------------------------------------------


@query(
    "dedup_semantic_keep",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_QREG['dedup_embedding_cosine'].oracle}),
    edges AS (
      SELECT vec_a AS u, vec_b AS v FROM pairs
      UNION ALL
      SELECT vec_b AS u, vec_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
      node = min(lbl) AS is_survivor
    FROM reach GROUP BY node
    """,
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (arXiv:2303.09540, the full pipeline form —
    engine extension per SURVEY.md §2.10 iterative surface):
    embedding-cosine near-dup PAIRS (the registered
    dedup_embedding_cosine graph, composed not re-derived) are closed
    into semantic clusters by the shared min-label component core, and
    each cluster keeps exactly one survivor (its min-id member —
    swap in keep-best scoring like dedup_keep_best for quality-aware
    survivorship). Output lists only CLUSTERED vectors with their
    keep/drop verdict; vectors in no pair survive implicitly, so the
    drop list — not the corpus — is the operator's product.

    Scale: pair graph from sign-bucketed LSH (never all-pairs);
    component rounds = cluster diameter (shallow for near-dup
    graphs); same localCheckpoint/Observation discipline as
    dedup_cluster_components via the shared helper."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    labels = _min_label_components(pairs, "vec_a", "vec_b")
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("lbl").cast("bigint").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# Eval integrity: near-dup leakage ACROSS train/val/test splits.
# ---------------------------------------------------------------------------


@query(
    "split_leakage_minhash",
    oracle=f"""
    WITH pairs AS ({_QREG['dedup_minhash_lsh'].oracle}),
    tagged AS (
      SELECT doc_a, doc_b,
        CASE WHEN {_HASH_BUCKET_SQL.format(key='doc_a')} < 80 THEN 'train'
             WHEN {_HASH_BUCKET_SQL.format(key='doc_a')} < 90 THEN 'val'
             ELSE 'test' END AS split_a,
        CASE WHEN {_HASH_BUCKET_SQL.format(key='doc_b')} < 80 THEN 'train'
             WHEN {_HASH_BUCKET_SQL.format(key='doc_b')} < 90 THEN 'val'
             ELSE 'test' END AS split_b
      FROM pairs
    )
    SELECT doc_a, doc_b, split_a, split_b
    FROM tagged WHERE split_a <> split_b
    """,
)
def split_leakage_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-dup LEAKAGE audit (engine extension per
    SURVEY.md §2.10 — the eval-integrity check next to
    contamination_ngram_overlap, which guards against EXTERNAL
    benchmarks; this guards the pipeline's OWN splits: a near-copy of
    a train document sitting in val silently inflates eval, the
    failure mode document-level hash splitting cannot prevent because
    near-dups hash differently): the registered LSH pair graph is
    tagged with each side's split_train_val_test assignment (same
    md5-bucket rule, composed not re-derived) and pairs that straddle
    splits are emitted. The fix loop: move/drop flagged docs, or
    split by CLUSTER id (dedup_cluster_components) instead of doc id —
    which makes this audit provably empty.

    Scale: pair-graph cost (banded LSH, never all-pairs) + a map-only
    split tag — the audit rides the dedup pass a pipeline already
    runs."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")

    def split_of(c: Column) -> Column:
        h = _hash_bucket(c)
        return F.when(h < 80, "train").when(h < 90, "val").otherwise("test")

    return (
        pairs.select(
            "doc_a",
            "doc_b",
            split_of(F.col("doc_a")).alias("split_a"),
            split_of(F.col("doc_b")).alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
