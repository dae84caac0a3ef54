"""Round-5 operator surface: the training-data-pipeline, serving, and
engine-surface extensions added on top of ``llm_ops``/``star_schema``/
``streaming_ops``.

Families in this module:
- ANN serving/eval: PQ rerank, reconstruction eval, IVF cell balance,
  label purity, JL projection, Matryoshka energy audit
- Dedup: paragraph-chunk (CCNet), Bloom probe + FPP curve, MinHash
  calibration, LSH S-curve, SimHash Hamming histogram, graph topology
  (triangles/degrees), impact report, agreement matrix, shingle novelty
- Data selection/quality: DSIR importance, mixture token budgets,
  linear quality score, char entropy, vocab OOV, composed quality gate,
  decontamination receipt, LID confusion, packing efficiency
- Time series/events: minute gap fill, integer EWMA (+ streaming twin in
  streaming/jobs.py), hourly seasonality, rolling OLS slope, RANGE-frame
  window, Markov transitions, lateness profile, cumulative user curve,
  interval-overlap join, Gini skew, time-to-convert, CMS heavy hitters
- Lakehouse/ops: zone maps, snapshot expiry, range-partition planning,
  MERGE dry-run, schema-drift audit, Bloom runtime filter, backlog aging
- SQL/UDF surfaces: GROUPING SETS, UNPIVOT, LATERAL, WITH RECURSIVE,
  cogrouped-map applyInPandas, forward as-of join

Same determinism discipline as ``llm_ops``: md5 for every hash
(identical hex both engines), hex→int via Spark ``conv`` ≡ DuckDB
``'0x…'::BIGINT``, ratios as exact half-up integer division
(``(2a+b) div (2b)`` in pure BIGINT), and float ratios quantized
through the same double on both engines (``round(x*1e6)/1e6``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wiki_data_pipeline_spark.functions.vectors import as_double, cosine, dot
from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.operators.pin import pin
from wiki_data_pipeline_spark.plans.llm_ops import (
    _CORPUS_SQL,
    _MINHASH_CTES,
    _N_QUERIES,
    _PQ_ADC_CTES,
    _SHINGLE_SQL,
    _TOPK,
    _cos_sql,
    _dedup_corpus,
    _shingles,
    _spread,
    dedup_minhash_lsh,
    pq_adc_distances,
)
from wiki_data_pipeline_spark.plans.registry import query
from wiki_data_pipeline_spark.session import worker_zip_guard

# ---------------------------------------------------------------------------
# Two-stage ANN serving: PQ-ADC candidate generation → exact rerank.
# ---------------------------------------------------------------------------

_RERANK_POOL = 4 * _TOPK  # ADC candidates per query fed to the reranker


@query(
    "sim_ann_pq_rerank",
    oracle=f"""
    WITH {_PQ_ADC_CTES},
    pool AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, vec_id) AS crank
        FROM adc
      ) WHERE crank <= {_RERANK_POOL}
    ),
    scored AS (
      SELECT p.query_id, p.vec_id, {_cos_sql('q.ve', 'v.ve')} AS score
      FROM pool p
      JOIN emb q ON q.vec_id = p.query_id
      JOIN emb v ON v.vec_id = p.vec_id
    )
    SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id, score,
        row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """,
)
def sim_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving: PQ asymmetric-distance scan proposes a
    4k-candidate pool per query (compressed codes only — the cheap,
    lossy stage), then ONLY those candidates' raw vectors are fetched
    and reranked by exact cosine (Jégou et al. 2011 §V's
    re-ranking; the shape every production vector store uses). Extends
    SURVEY.md §2's similarity family with the recall-restoring layer
    above ``sim_ann_pq_adc``.

    Scale: the ADC stage never touches raw floats; the rerank joins
    raw vectors for |Q|·pool rows only — point lookups against the
    vec_id-keyed store, not a scan. Pool size is THE recall/latency
    knob; 4×k restores most of the ADC quantization loss. Scores are
    rounded to 6 decimals before ranking with vec_id tie-breaks (the
    sim_cosine_topk discipline)."""
    adc = pq_adc_distances(spark, sf_dir)
    w_pool = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("vec_id")
    )
    pool = (
        adc.withColumn("crank", F.row_number().over(w_pool))
        .filter(F.col("crank") <= _RERANK_POOL)
        .select("query_id", "vec_id")
    )
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("ve")
    )
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("ve").alias("qe"))
    scored = (
        pool.join(q, on="query_id")
        .join(emb, on="vec_id")
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


# ---------------------------------------------------------------------------
# Paragraph-granularity dedup (CCNet-style) over fixed token chunks.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 16


@query(
    "dedup_paragraph_chunks",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus
    ),
    ch AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(
          generate_series(0, (len(toks) - 1) // {_CHUNK_TOKENS}),
          i -> md5(array_to_string(
            toks[i*{_CHUNK_TOKENS}+1 : i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS}], ' '))
        )) AS chunk_hash
      FROM tok
    ),
    shared AS (
      SELECT chunk_hash FROM ch GROUP BY chunk_hash HAVING count(*) > 1
    )
    SELECT ch.doc_id,
      count(*) AS n_chunks,
      CAST(sum(CASE WHEN s.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_dup_chunks,
      CAST((2 * 1000000 * sum(CASE WHEN s.chunk_hash IS NOT NULL
                              THEN 1 ELSE 0 END) + count(*))
           // (2 * count(*)) AS BIGINT) AS dup_frac_micro
    FROM ch LEFT JOIN shared s USING (chunk_hash)
    GROUP BY ch.doc_id
    """,
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity dedup (CCNet, Wenzek et al. 2020: dedup at
    paragraph level, not document level — catches boilerplate and
    partial copies that document hashing misses). The corpus has no
    newline structure, so "paragraphs" are fixed 16-token chunks (the
    ``text_chunking`` boundary rule); each doc's distinct chunk hashes
    are matched against the corpus-wide set of chunks seen in >1 doc,
    yielding per-doc duplicated-paragraph fractions — the column a
    cleaning pipeline thresholds on (drop doc, or strip the chunks).

    Scale: one narrow chunk+md5 pass, one shuffle on chunk_hash for
    the shared-set aggregate, one shuffle back on chunk_hash to flag —
    never doc×doc. The shared set is corpus-sized/dup-rate-sized; the
    flag join is a plain hash join that AQE will broadcast when small.
    dup_frac is exact half-up integer division in micro units (the
    cross-engine ratio discipline)."""
    corpus = _dedup_corpus(spark, sf_dir)
    toks = F.col("toks")
    chunk_hashes = F.transform(
        F.sequence(F.lit(0), F.expr(f"(size(toks) - 1) div {_CHUNK_TOKENS}")),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(toks, i * _CHUNK_TOKENS + 1, _CHUNK_TOKENS))
        ),
    )
    # pinned: the chunk stream feeds both the shared-set aggregate and
    # the flag join — unpinned, each re-chunks and re-hashes the corpus
    ch = (
        _spread(corpus)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        .select("doc_id", F.explode(F.array_distinct(chunk_hashes)).alias("chunk_hash"))
        .transform(pin)
    )
    shared = (
        ch.groupBy("chunk_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("chunk_hash", F.lit(1).alias("dup"))
    )
    return (
        ch.join(shared, on="chunk_hash", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("bigint").alias(
                "n_dup_chunks"
            ),
        )
        .withColumn(
            "dup_frac_micro",
            F.expr(
                "(2 * 1000000 * n_dup_chunks + n_chunks) div (2 * n_chunks)"
            ).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter dedup probe: membership against a historical corpus.
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096
_BLOOM_K = 3


def _bloom_bits_sql(texpr: str, m: int = _BLOOM_BITS) -> str:
    """k=3 bit positions from disjoint 8-hex slices of one md5 — the
    Kirsch-Mitzenmacher trick (k hashes from one computation)."""
    return (
        "["
        + ", ".join(
            f"('0x' || substr(md5({texpr}), {1 + 8 * j}, 8))::BIGINT"
            f" % {m}"
            for j in range(_BLOOM_K)
        )
        + "]"
    )


@query(
    "bloom_filter_probe",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    hashed AS (
      SELECT doc_id, md5(text) AS digest,
        {_bloom_bits_sql('text')} AS bits
      FROM corpus WHERE text IS NOT NULL
    ),
    seen_bits AS (
      SELECT DISTINCT unnest(bits) AS bit FROM hashed WHERE doc_id < 100000
    ),
    seen_digests AS (
      SELECT DISTINCT digest FROM hashed WHERE doc_id < 100000
    ),
    probe AS (
      SELECT doc_id, digest, unnest(list_distinct(bits)) AS bit
      FROM hashed WHERE doc_id >= 100000
    ),
    per_doc AS (
      SELECT p.doc_id, p.digest,
        CAST(min(CASE WHEN sb.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS bloom_hit,
        CAST(max(CASE WHEN sd.digest IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS true_dup
      FROM probe p
      LEFT JOIN seen_bits sb USING (bit)
      LEFT JOIN seen_digests sd ON sd.digest = p.digest
      GROUP BY p.doc_id, p.digest
    )
    SELECT
      count(*) AS n_probe,
      CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
      CAST(sum(true_dup) AS BIGINT) AS n_true_dups,
      CAST(sum(CASE WHEN bloom_hit = 1 AND true_dup = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
      CAST(sum(CASE WHEN bloom_hit = 0 AND true_dup = 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_missed_true,
      CAST((2 * 1000000 * sum(CASE WHEN bloom_hit = 1 AND true_dup = 0
                              THEN 1 ELSE 0 END)
            + (count(*) - sum(true_dup)))
           // (2 * (count(*) - sum(true_dup))) AS BIGINT) AS fp_rate_micro
    FROM per_doc
    """,
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter dedup-on-ingest probe (Bloom 1970; the standard
    way a new batch checks membership against a petabyte-scale
    historical corpus WITHOUT joining it; engine extension of SURVEY.md
    §2.3 F9's dedup-on-insert seen-set): the "seen" corpus's content
    digests set k=3 bits each in an m=4096-bit filter (bit positions =
    three disjoint 8-hex slices of one md5 — Kirsch-Mitzenmacher's k-
    hashes-from-one trick, same double-hashing family the MinHash
    stage uses); the probe batch (doc_id ≥ 100000: 50 exact clones +
    50 near-dups of the base corpus) checks all its bits. The summary
    row measures what a capacity planner needs: hit counts, true-dup
    counts, false positives, the fp rate among true negatives — and
    ``n_missed_true``, pinned to 0 by the filter's no-false-negative
    guarantee (a nonzero value would mean the bit derivation drifted
    between build and probe).

    Scale: the filter is m bits regardless of corpus size → the
    seen-bits set is broadcast; the historical corpus is read and
    md5-hashed ONCE (the digest frame is pinned with localCheckpoint —
    its three consumers, seen-bits, seen-digests, and the probe
    stream, would each re-hash the corpus otherwise), never joined
    row-wise. At real scale m sizes to n·k/ln2 bits and the same plan
    holds; Bloom hits then fall through to ``dedup_exact``'s digest
    join for confirmation (two-stage, like the LSH→verify dedup
    path)."""
    corpus = _dedup_corpus(spark, sf_dir)
    digest = F.md5("text")
    bits = F.array(
        *[
            (
                F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10).cast("long")
                % _BLOOM_BITS
            )
            for j in range(_BLOOM_K)
        ]
    )
    # NULL text has no digest and belongs to no dedup structure —
    # explicit on BOTH engines (adversarial-fixture finding: DuckDB's
    # list_distinct strips NULL bit lists to [], silently dropping the
    # doc, while Spark's array_distinct keeps a NULL element).
    hashed = _spread(corpus).filter(F.col("text").isNotNull()).select(
        "doc_id", digest.alias("digest"), bits.alias("bits")
    ).transform(pin)
    seen = hashed.filter(F.col("doc_id") < 100000)
    seen_bits = seen.select(F.explode("bits").alias("bit")).distinct()
    seen_digests = seen.select("digest").distinct()
    probe = hashed.filter(F.col("doc_id") >= 100000).select(
        "doc_id", "digest", F.explode(F.array_distinct("bits")).alias("bit")
    )
    per_doc = (
        probe.join(
            F.broadcast(seen_bits.select("bit", F.lit(1).alias("present"))),
            on="bit",
            how="left",
        )
        .join(
            F.broadcast(seen_digests.select("digest", F.lit(1).alias("known"))),
            on="digest",
            how="left",
        )
        .groupBy("doc_id", "digest")
        .agg(
            F.min(F.coalesce(F.col("present"), F.lit(0))).cast("bigint").alias(
                "bloom_hit"
            ),
            F.max(F.coalesce(F.col("known"), F.lit(0))).cast("bigint").alias(
                "true_dup"
            ),
        )
    )
    fp = F.sum(((F.col("bloom_hit") == 1) & (F.col("true_dup") == 0)).cast("long"))
    return (
        per_doc.agg(
            F.count("*").alias("n_probe"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            F.sum("true_dup").cast("bigint").alias("n_true_dups"),
            fp.cast("bigint").alias("n_false_pos"),
            F.sum(
                ((F.col("bloom_hit") == 0) & (F.col("true_dup") == 1)).cast("long")
            )
            .cast("bigint")
            .alias("n_missed_true"),
        )
        .withColumn(
            "fp_rate_micro",
            F.expr(
                "(2 * 1000000 * n_false_pos + (n_probe - n_true_dups))"
                " div (2 * (n_probe - n_true_dups))"
            ).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Dup-graph topology: triangles / clustering and the degree histogram.
# ---------------------------------------------------------------------------

_GRAPH_CTES = f"""{_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL
        SELECT doc_b AS node FROM pairs
      ) GROUP BY node
    )"""


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH {_GRAPH_CTES},
    tri AS (
      SELECT count(*) AS n_triangles
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT
      (SELECT count(*) FROM deg) AS n_nodes,
      (SELECT count(*) FROM pairs) AS n_edges,
      (SELECT CAST(sum(degree * (degree - 1)) // 2 AS BIGINT) FROM deg)
        AS n_wedges,
      CAST(n_triangles AS BIGINT) AS n_triangles,
      CAST(CASE WHEN (SELECT sum(degree * (degree - 1)) FROM deg) = 0 THEN 0
        ELSE (2 * 1000000 * 3 * n_triangles
              + (SELECT sum(degree * (degree - 1)) // 2 FROM deg))
             // (2 * (SELECT sum(degree * (degree - 1)) // 2 FROM deg))
        END AS BIGINT) AS closed_frac_micro
    FROM tri
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the MinHash
    near-dup pair graph (engine extension per SURVEY.md §2.10's
    iterative/graph surface) — the topology audit that tells a dedup
    pipeline whether its candidate graph is clique-like (true dup
    clusters close their triangles → safe to keep one doc per
    component) or chain-like (transitive merging over low-closure
    chains collapses NON-duplicates together — the classic LSH
    over-merge failure). Triangles via the oriented three-way self-
    join on a<b<c edges (each triangle counted once); wedges =
    Σ deg·(deg−1)/2; closed fraction = 3·triangles/wedges in exact
    half-up micro units.

    Scale: the standard distributed triangle counting shape (Suri &
    Vassilvitskii 2011) — orienting edges by id (degree ordering at
    real scale) bounds each join's fan-out; every join shuffles on an
    edge endpoint, never materializing node neighborhoods on one
    machine. The dup graph is sparse (bounded bucket sizes upstream),
    so the 3-way join is linear-ish in edges.

    The pair frame is checkpointed once: this plan consumes it SIX
    times (two degree-union branches, the edge count, e1/e2/e3) — each
    would re-run the whole LSH pipeline otherwise."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("sum(degree * (degree - 1)) div 2").cast("bigint").alias("n_wedges"),
    )
    edge_stats = pairs.agg(F.count("*").alias("n_edges"))
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(edge_stats)
        .crossJoin(tri)
        .withColumn(
            "closed_frac_micro",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (2 * 1000000 * 3 * n_triangles + n_wedges)"
                " div (2 * n_wedges) END"
            ).cast("bigint"),
        )
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles", "closed_frac_micro"
        )
    )


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH {_GRAPH_CTES}
    SELECT degree, count(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph (SURVEY.md §2.10
    graph-surface extension) — the skew
    instrument for dedup at scale: a heavy-tailed histogram means hub
    documents (boilerplate, templates) whose components will snowball
    under transitive merging, and whose LSH buckets need the
    ``max_bucket_size`` cap. Two hash aggregations (node → degree,
    degree → count); at 100 TB both shuffle tiny aggregate rows, and
    the histogram (≤ max-degree rows) is the thing you alert on.
    The pair frame is checkpointed once — the degree union consumes it
    twice and would re-run the LSH pipeline per branch otherwise."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    return (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit: energy retained by embedding prefixes.
# ---------------------------------------------------------------------------

_MRL_DIM = 16  # truncation prefix length audited (of 64 stored dims)


@query(
    "emb_matryoshka_energy",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)
    SELECT vec_id,
      round(list_dot_product(ve[1:{_MRL_DIM}], ve[1:{_MRL_DIM}])
            / list_dot_product(ve, ve) * 1000000) / 1000000.0
        AS head_energy_frac
    FROM emb
    """,
)
def emb_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022: MRL-trained
    embeddings pack most signal into a prefix, so serving can truncate
    64→16 dims and renormalize for 4× cheaper ANN; SURVEY.md §2
    similarity-family extension): per-vector
    fraction of squared-norm energy retained by the first 16 dims —
    the measurement that decides whether a corpus's embeddings are
    truncation-safe (MRL-trained ⇒ frac ≫ dim-fraction; isotropic ⇒
    frac ≈ 16/64, truncation loses proportionally).

    Map-only, shuffle-free: two zip_with/aggregate folds per row, all
    JVM-side. The ratio is quantized through the same double on both
    engines (round(x·1e6)/1e6 — the cross-engine float discipline);
    the numerator/denominator folds are left-to-right over identical
    doubles, so the input to the rounding is bit-identical. try_divide,
    not ``/``: an all-zero embedding (dead/padding row, routine in real
    corpora) has zero total energy and a plain ANSI division would
    crash the whole job — NULL matches DuckDB's x/0 (the
    functions/vectors.py cosine discipline; caught by the adversarial
    fixture's zero vectors)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("ve")
    )
    head = F.slice("ve", 1, _MRL_DIM)
    frac = F.try_divide(dot(head, head), dot(F.col("ve"), F.col("ve")))
    return emb.select(
        "vec_id",
        (F.round(frac * 1000000, 0) / 1000000.0).alias("head_energy_frac"),
    )


# ---------------------------------------------------------------------------
# Time-series resampling: minute grid + forward fill over gaps.
# ---------------------------------------------------------------------------

_GRID_DAY = "2024-01-15"


@query(
    "ts_minute_gap_fill",
    oracle=f"""
    WITH day_ev AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '{_GRID_DAY} 00:00:00'
        AND ts < TIMESTAMP '{_GRID_DAY} 00:00:00' + INTERVAL 1 DAY
    ),
    agg AS (
      SELECT event_type, date_trunc('minute', ts) AS m,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      FROM day_ev GROUP BY event_type, date_trunc('minute', ts)
    ),
    grid AS (
      SELECT t.event_type, unnest(generate_series(
        TIMESTAMP '{_GRID_DAY} 00:00:00',
        TIMESTAMP '{_GRID_DAY} 23:59:00', INTERVAL 1 MINUTE)) AS m
      FROM (SELECT DISTINCT event_type FROM day_ev) t
    )
    SELECT event_type, strftime(m, '%Y-%m-%d %H:%M') AS minute,
      CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
      coalesce(
        last_value(total_value IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY m
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        0.0) AS filled_value,
      CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM grid LEFT JOIN agg USING (event_type, m)
    """,
)
def ts_minute_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to a dense minute grid with forward fill
    — the gap-filling operator every downstream window/EWMA/anomaly
    model needs before it can assume regular spacing (SURVEY.md §2.5/§2.9
    windowed-aggregation extension; Spark has no native gap-fill — this is the declarative composition: generate the
    grid with ``sequence``/``explode``, left-join the sparse
    aggregates, forward-fill with ``last(..., ignorenulls=True)`` over
    an unbounded-preceding window). Per-minute value totals use the
    exact DECIMAL-sum discipline, so the filled values are
    partitioning-independent.

    Scale: the grid is |keys|·minutes rows generated distributively
    (one sequence per key row, exploded on executors — no driver
    loop); the fill window partitions by series key, so state is one
    running value per key. For multi-day spans, partition the window
    by (key, day) and seed each day with the previous day's closing
    value (the OHLC pattern) to keep partitions bounded."""
    from wiki_data_pipeline_spark.plans.star_schema import dsum

    events = read_table(spark, sf_dir, "events")
    day_ev = events.filter(
        (F.col("ts") >= F.lit(f"{_GRID_DAY} 00:00:00").cast("timestamp"))
        & (
            F.col("ts")
            < F.lit(f"{_GRID_DAY} 00:00:00").cast("timestamp")
            + F.expr("INTERVAL 1 DAY")
        )
    )
    agg = day_ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count("*").alias("n_events"), dsum(F.col("value"), "total_value"))
    grid = (
        day_ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.lit(f"{_GRID_DAY} 00:00:00").cast("timestamp"),
                    F.lit(f"{_GRID_DAY} 23:59:00").cast("timestamp"),
                    F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("m"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, on=["event_type", "m"], how="left")
        .select(
            "event_type",
            F.date_format("m", "yyyy-MM-dd HH:mm").alias("minute"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(
                F.last("total_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("filled_value"),
            F.isnull("n_events").cast("bigint").alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA over daily counts — exact integer arithmetic (alpha = 1/2).
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8  # window of days folded into the average


@query(
    "ts_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        count(*) AS n_events
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    win AS (
      SELECT event_type, day, n_events,
        list(n_events) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN {_EWMA_LAGS - 1} PRECEDING AND CURRENT ROW) AS lags
      FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
      CAST((2 * 1000000 * CAST(list_aggregate(list_transform(
              generate_series(1, len(lags)),
              i -> lags[i] * (1::BIGINT << (i - 1))), 'sum') AS BIGINT)
            + ((1::BIGINT << len(lags)) - 1))
           // (2 * ((1::BIGINT << len(lags)) - 1)) AS BIGINT) AS ewma_micro
    FROM win
    """,
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume
    with half-life 1 day (alpha = 1/2) — the smoothing baseline for
    trend/alerting (SURVEY.md §2.5 aggregation-family extension). alpha = 1/2 makes every weight a power of two, so
    the whole EWMA runs in EXACT integer arithmetic: the window's day
    counts [c_oldest..c_now] weight as 2^i, numerator and denominator
    are bit-shifts and sums of BIGINTs, and the result is one exact
    half-up division in micro units — no float anywhere, so both
    engines agree bitwise by construction (the integer nano-unit
    PageRank discipline, applied to smoothing).

    Scale: one (type, day) hash aggregate, then a per-key ordered
    window carrying at most 8 lag values — bounded state per series,
    the same shape transformWithState keeps for the streaming twin."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_EWMA_LAGS - 1), Window.currentRow)
    )
    lags = F.collect_list("n_events").over(w)
    win = daily.withColumn("lags", lags)
    # Left fold with a doubling-weight accumulator: oldest lag gets
    # weight 2^0, newest 2^(n-1) — mirrors the oracle's lags[i]·2^(i-1).
    num = F.expr(
        "aggregate(lags,"
        " struct(cast(0 as bigint) as s, cast(1 as bigint) as w),"
        " (acc, c) -> struct(acc.s + c * acc.w, acc.w * 2),"
        " acc -> acc.s)"
    )
    den = F.expr("shiftleft(cast(1 as bigint), size(lags)) - 1")
    return (
        win.withColumn("num", num)
        .withColumn("den", den)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.expr("(2 * 1000000 * num + den) div (2 * den)")
            .cast("bigint")
            .alias("ewma_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Zone maps: per-file min/max stats + skipping estimate.
# ---------------------------------------------------------------------------

_ZONE_CUTOFF = "2024-01-20 00:00:00"


@query(
    "layout_zone_map_stats",
    oracle=f"""
    WITH filed AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 4
             + event_id % 4 AS file_id, ts, value
      FROM events
    )
    SELECT file_id,
      count(*) AS n_rows,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS ts_min,
      strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS ts_max,
      min(value) AS value_min,
      max(value) AS value_max,
      CAST(CASE WHEN max(ts) < TIMESTAMP '{_ZONE_CUTOFF}' THEN 1 ELSE 0 END
           AS BIGINT) AS prunable
    FROM filed GROUP BY file_id
    """,
)
def layout_zone_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (file-skipping) statistics (SURVEY.md §2.1 layout/sink
    extension) — the min/max-per-file
    manifest a lakehouse table format keeps so scans can prune files
    without opening them. Files are modeled as the output of a
    day-partitioned 4-way-parallel write (file = (ingest day, writer
    task)) — the layout ``layout_compaction_plan`` and
    ``layout_zorder_files`` optimize; this query builds the stats
    those decisions and the scan planner consume, plus a concrete
    skip estimate: ``prunable`` marks files whose ts_max falls wholly
    before a point-in-time predicate, i.e. files a
    ``WHERE ts >= '{_ZONE_CUTOFF}'`` scan never reads.

    Scale: one hash aggregate keyed by file id (in production this
    reads the parquet footers / commit manifest, not the data — same
    schema, ~zero cost); min/max are exact order-independent
    aggregates, so the manifest is partitioning-stable."""
    from wiki_data_pipeline_spark.plans.streaming_ops import TS_US_SPARK

    events = read_table(spark, sf_dir, "events")
    file_id = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) * 4
        + F.col("event_id") % 4
    )
    return (
        events.select(file_id.cast("bigint").alias("file_id"), "ts", "value")
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.date_format(F.min("ts"), TS_US_SPARK).alias("ts_min"),
            F.date_format(F.max("ts"), TS_US_SPARK).alias("ts_max"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            (F.max("ts") < F.lit(_ZONE_CUTOFF).cast("timestamp"))
            .cast("bigint")
            .alias("prunable"),
        )
    )


# ---------------------------------------------------------------------------
# Range-partitioner planning: exact split bounds + bucket occupancy.
# ---------------------------------------------------------------------------

_RANGE_BUCKETS = 8


@query(
    "range_partition_plan",
    oracle=f"""
    WITH b AS (
      SELECT [{', '.join(f'quantile_disc(o_totalprice, {i}/{_RANGE_BUCKETS}.0)'
                         for i in range(1, _RANGE_BUCKETS))}] AS bounds,
        count(*) AS total
      FROM orders
    ),
    assigned AS (
      SELECT len(list_filter(b.bounds, x -> o.o_totalprice > x)) AS bucket,
        b.total
      FROM orders o CROSS JOIN b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
      count(*) AS n_rows,
      CAST((2 * 1000000 * count(*) + any_value(total))
           // (2 * any_value(total)) AS BIGINT) AS row_frac_micro,
      CASE WHEN bucket > 0 THEN any_value((SELECT bounds FROM b))[bucket]
           ELSE NULL END AS bound_lo,
      CASE WHEN bucket < {_RANGE_BUCKETS - 1}
           THEN any_value((SELECT bounds FROM b))[bucket + 1]
           ELSE NULL END AS bound_hi
    FROM assigned GROUP BY bucket
    """,
)
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner planning (SURVEY.md §2.6 ordering/partitioning
    extension) — the exact-quantile version of what
    ``repartitionByRange`` does by sampling: split bounds at k/8
    quantiles of the sort key, then per-bucket occupancy and row
    fraction, the evidence for whether a range-partitioned write (or a
    sorted bucketing layout) will balance. Discrete quantiles pick
    actual data values (the agg_value_percentiles cross-engine
    discipline); fractions are exact half-up micro division.

    The bounds stage computes ALL seven quantiles from ONE cumulative
    pass instead of seven ``percentile_disc`` aggregates: per-value
    counts (one shuffle on the key), a distributed exclusive prefix
    sum over the distinct values (``with_global_offsets`` — the l3
    two-pass range-partition pattern, never a single-partition
    window), then bound_k = min value whose inclusive count satisfies
    8·cum ≥ k·n — the SQL-standard PERCENTILE_DISC definition (min v
    with cume_dist(v) ≥ p) in exact BIGINT arithmetic, verified
    identical to Spark's percentile_disc and DuckDB's quantile_disc on
    ties/singleton/odd-n corpora. Seven independent percentile_disc
    buffers each re-sorted the full column in one reducer (7× the
    memory and the measured 2.1 s of a 2.6 s query at sf0.1); the
    cumulative form is distributed, linear, and reads the column once.

    Scale: the per-value count aggregate shrinks the prefix-sum input
    to distinct-key cardinality; the broadcast of the 7-value bounds
    row and the map-side bucket assignment + hash count are unchanged.
    This is also the skew-detection pre-pass: a bucket fraction ≫ 1/8
    means heavy keys that need salting (``skew_salted_join``'s
    input)."""
    from wiki_data_pipeline_spark.operators.packing import with_global_offsets

    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_totalprice").agg(F.count("*").alias("c"))
    cum = with_global_offsets(
        counts, order="o_totalprice", size="c", out="cb"
    ).select(
        "o_totalprice", (F.col("cb") + F.col("c")).alias("cum")
    )
    tot = orders.agg(F.count("*").cast("bigint").alias("total"))
    b = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * _RANGE_BUCKETS >= F.col("total") * i,
                        F.col("o_totalprice"),
                    )
                ).alias(f"_b{i}")
                for i in range(1, _RANGE_BUCKETS)
            ],
            F.any_value("total").alias("total"),
        )
        .select(
            F.array(
                *[F.col(f"_b{i}") for i in range(1, _RANGE_BUCKETS)]
            ).alias("bounds"),
            "total",
        )
        .transform(pin)
    )
    # The per-bucket aggregate carries ONLY the count (r15, guide §5):
    # the r11 form dragged any_value(total)/any_value(bounds) through
    # the groupBy, and an array-typed buffer is not hash-aggregable —
    # the whole orders table was SORT-aggregated (a full sort of the
    # corpus) just to keep two constants alive. The 1-row bounds frame
    # is PINNED (r16, ADVICE item 1): the r15 note claimed the two
    # broadcast subtrees canonicalize and build once, but column
    # pruning drops `total` from the first consumer (assignment needs
    # only `bounds`), giving a 1-column vs 2-column exchange that
    # cannot reuse — the same pruning-breaks-reuse failure as
    # dedup_minhash_calibration, so the orders scan + per-value count
    # shuffle + prefix-sum pass ran TWICE. The eager pin materializes
    # the quantile pipeline once; both consumers broadcast the
    # checkpointed 1-row frame.
    assigned = orders.crossJoin(F.broadcast(b)).select(
        F.size(
            F.filter(F.col("bounds"), lambda x: F.col("o_totalprice") > x)
        ).alias("bucket"),
    )
    return (
        assigned.groupBy("bucket")
        .agg(F.count("*").alias("n_rows"))
        .crossJoin(F.broadcast(b))
        .select(
            F.col("total").alias("_total"),
            F.col("bounds").alias("_bounds"),
            "bucket",
            "n_rows",
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_rows",
            F.expr("(2 * 1000000 * n_rows + _total) div (2 * _total)")
            .cast("bigint")
            .alias("row_frac_micro"),
            F.when(
                F.col("bucket") > 0, F.element_at("_bounds", F.col("bucket"))
            ).alias("bound_lo"),
            F.when(
                F.col("bucket") < _RANGE_BUCKETS - 1,
                F.element_at("_bounds", F.col("bucket") + 1),
            ).alias("bound_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Data mixture: per-domain sampling rates under a token budget.
# ---------------------------------------------------------------------------


@query(
    "mixture_token_budget",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
        len(string_split_regex(trim(text), '\\s+')) AS n_tok,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000 AS h_micro
      FROM documents
    ),
    stats AS (
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM stats),
    rates AS (
      SELECT s.source, s.n_docs, s.n_tokens,
        CAST(t.total // 40 AS BIGINT) AS budget_tokens,
        CAST(least(1000000,
          (2 * 1000000 * (t.total // 40) + s.n_tokens) // (2 * s.n_tokens))
          AS BIGINT) AS rate_micro
      FROM stats s CROSS JOIN tot t
    )
    SELECT r.source, r.n_docs, r.n_tokens, r.budget_tokens, r.rate_micro,
      CAST(coalesce(sum(CASE WHEN k.h_micro < r.rate_micro THEN 1 END), 0)
           AS BIGINT) AS n_sampled,
      CAST(coalesce(sum(CASE WHEN k.h_micro < r.rate_micro THEN k.n_tok END), 0)
           AS BIGINT) AS n_tokens_sampled
    FROM rates r LEFT JOIN toks k ON k.source = r.source
    GROUP BY r.source, r.n_docs, r.n_tokens, r.budget_tokens, r.rate_micro
    """,
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture construction under a token budget (SURVEY.md §2
    sampling-family extension) — the operator
    that turns "train on 50% of the corpus, spread equally across
    domains" into per-domain keep rates (The Pile / temperature-
    sampling family; complements ``sample_domain_temperature``, which
    reweights by popularity — this one enforces an absolute token
    budget per domain). Each domain's rate = min(1, budget/tokens) in
    exact half-up micro units; membership is stable-hash sampling
    (md5(doc_id) < rate — deterministic, reproducible, re-runnable),
    and the output reconciles achieved vs. target tokens per domain.

    Scale: token counting is one narrow map + hash agg; the 20-row
    rates table broadcasts back over the corpus for the sampling pass.
    The same two-pass shape holds at 100 TB — the only global state is
    the per-domain aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 1000000
        ).alias("h_micro"),
    )
    stats = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    tot = stats.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    rates = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn("budget_tokens", F.expr("total div 40").cast("bigint"))
        .withColumn(
            "rate_micro",
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr(
                    "(2 * 1000000 * (total div 40) + n_tokens)"
                    " div (2 * n_tokens)"
                ),
            ).cast("bigint"),
        )
        .drop("total")
    )
    kept = F.col("h_micro") < F.col("rate_micro")
    return (
        toks.join(F.broadcast(rates), on="source")
        .groupBy("source", "n_docs", "n_tokens", "budget_tokens", "rate_micro")
        .agg(
            F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# Linear quality model: integer-micro features → score → bucket.
# ---------------------------------------------------------------------------


@query(
    "quality_linear_score",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
        len(toks) AS n_tokens,
        (2 * 1000000 * len(list_filter(toks, t -> t IN ('a', 'the')))
         + len(toks)) // (2 * len(toks)) AS stop_micro,
        (2 * 1000000 * len(list_distinct(toks)) + len(toks))
          // (2 * len(toks)) AS uniq_micro,
        least(len(toks), 200) * 5000 AS len_micro
      FROM (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
      )
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(stop_micro AS BIGINT) AS stop_micro,
      CAST(uniq_micro AS BIGINT) AS uniq_micro,
      CAST((2 * (3 * uniq_micro + 2 * (1000000 - stop_micro) + len_micro) + 6)
           // 12 AS BIGINT) AS score_micro,
      CAST(((2 * (3 * uniq_micro + 2 * (1000000 - stop_micro) + len_micro) + 6)
           // 12) // 100000 AS BIGINT) AS bucket
    FROM feats
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (SURVEY.md §2.8 scalar-function
    / text-quality extension) — the shape of fastText/
    logistic quality filters (CCNet, GPT-3's quality model) reduced to
    a fixed linear model over cheap text features: stopword density,
    type/token ratio, length saturation. Every feature is an exact
    half-up micro-unit ratio and the score a weighted integer mean, so
    scoring is pure BIGINT arithmetic end to end — bitwise identical
    across engines and partitionings, and the decile ``bucket`` is a
    stable training-data routing key (keep top-k buckets, re-weight
    the middle, drop the tail).

    Scale: map-only, shuffle-free — the model weights are literals in
    the plan (a real classifier broadcasts its weight vector and dots
    it the same way); thresholding downstream is a filter pushed to
    the scan."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.col("toks")
    feats = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    ).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.expr(
            "(2 * 1000000 * size(filter(toks, t -> t IN ('a', 'the')))"
            " + size(toks)) div (2 * size(toks))"
        ).alias("stop_micro"),
        F.expr(
            "(2 * 1000000 * size(array_distinct(toks)) + size(toks))"
            " div (2 * size(toks))"
        ).alias("uniq_micro"),
        (F.least(F.size(toks), F.lit(200)) * 5000).alias("len_micro"),
    )
    score = (
        "(2 * (3 * uniq_micro + 2 * (1000000 - stop_micro) + len_micro) + 6)"
        " div 12"
    )
    return feats.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("stop_micro").cast("bigint").alias("stop_micro"),
        F.col("uniq_micro").cast("bigint").alias("uniq_micro"),
        F.expr(score).cast("bigint").alias("score_micro"),
        F.expr(f"({score}) div 100000").cast("bigint").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS: the cube/rollup sibling with explicit set lists.
# ---------------------------------------------------------------------------


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(grouping(lang) AS BIGINT) AS g_lang,
      CAST(grouping(source) AS BIGINT) AS g_source
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation — the explicit-set sibling of the
    registered cube/rollup queries (SURVEY.md §2.5 extensions):
    per-language totals, per-source totals, and the grand total in ONE
    pass, with grouping() flags disambiguating real NULLs from
    subtotal rows. Catalyst expands the sets into a single Expand +
    hash aggregate — one scan, one shuffle, instead of three unioned
    queries; at 100 TB that 3× scan saving is the point."""
    docs = read_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_gs_documents")
    return spark.sql(
        """
        SELECT lang, source, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          CAST(grouping(lang) AS BIGINT) AS g_lang,
          CAST(grouping(source) AS BIGINT) AS g_source
        FROM _gs_documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign random projection (64 → 8 dims).
# ---------------------------------------------------------------------------

_JL_OUT = 8
_JL_IN = 64


def _jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 from md5 — the projection matrix is a FIXED
    literal derived offline (both engines receive identical constants;
    no RNG state anywhere)."""
    import hashlib

    h = hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()
    return 1 if int(h[:8], 16) % 2 == 0 else -1


_JL_MATRIX = [
    [_jl_sign(i, j) for i in range(_JL_IN)] for j in range(_JL_OUT)
]


@query(
    "emb_random_projection",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings)
    SELECT vec_id, j, round(raw / sqrt({_JL_OUT}.0) * 1000000) / 1000000.0
      AS proj_value
    FROM (
      SELECT vec_id, unnest([{', '.join(str(j) for j in range(_JL_OUT))}]) AS j,
        unnest([{', '.join(
            'list_dot_product(ve, ['
            + ', '.join(f'{s}.0' for s in row) + '])'
            for row in _JL_MATRIX)}]) AS raw
      FROM emb
    )
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection 64 → 8 dims
    (Achlioptas 2003: ±1 entries preserve pairwise distances within
    (1±ε) whp — the cheapest dimensionality reduction for dedup
    blocking and coarse ANN; SURVEY.md §2 similarity-family
    extension). The projection matrix is a fixed md5-derived ±1
    literal baked into the plan, so both engines fold the identical
    dot products in identical order; outputs are quantized through the
    same double (round(x·1e6)/1e6).

    Scale: map-only, shuffle-free — 8 zip_with/aggregate folds per
    row, all JVM-side; the 64×8 sign matrix is a plan literal (a
    learned projection would broadcast the same way). The projected
    table is what the sign-LSH (``sim_ann_lsh``) and embedding-cosine
    blocking stages consume at 8× lower cost."""
    # _spread (r16): the fixture scan is a single split, so the 512
    # interpreted multiply-adds per row otherwise run on one core;
    # no-op passthrough on a pre-split production scan.
    emb = _spread(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("ve")
        )
    )

    # r16 note (VERDICT item 1b root-cause work): two straight-line
    # rewrites of the 8 dot products (512-term codegen'd add chains;
    # then sign-folded add/subtract chains split across 8 projection
    # expressions + posexplode) were built, proven value-identical,
    # and MEASURED SLOWER — 3.4 s / 2.1 s vs 0.80 s for this form at
    # sf0.1. The single-expression form blows the 64 KB codegen
    # method limit (whole-stage fallback); the split form compiles
    # but the generated methods exceed HotSpot's 8 KB JIT ceiling and
    # run in the bytecode interpreter. The zip_with+aggregate HOF
    # fold below is the fastest available spelling; the query is
    # map-only and shuffle-free, so its gate drift is a measurement
    # artifact, not a plan defect (idle ×5 re-timing).
    outs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                dot(
                    F.col("ve"),
                    F.array(*[F.lit(float(s)) for s in _JL_MATRIX[j]]),
                ).alias("raw"),
            )
            for j in range(_JL_OUT)
        ]
    )
    return (
        emb.select("vec_id", F.explode(outs).alias("o"))
        .select(
            "vec_id",
            F.col("o.j").alias("j"),
            (
                F.round(F.col("o.raw") / F.sqrt(F.lit(float(_JL_OUT))) * 1000000, 0)
                / 1000000.0
            ).alias("proj_value"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot retention: expiry plan over the synthetic commit log.
# ---------------------------------------------------------------------------

_SNAP_KEEP_LAST = 3
_SNAP_KEEP_DAYS = 7


@query(
    "snapshot_expiry_plan",
    oracle=f"""
    WITH snaps AS (
      SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS snap_day,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS commit_ts,
        count(DISTINCT event_id % 4) AS n_files,
        count(*) AS n_rows
      FROM events GROUP BY 1
    ),
    latest AS (SELECT max(snap_day) AS latest_day FROM snaps),
    ranked AS (
      SELECT s.*, l.latest_day,
        row_number() OVER (ORDER BY snap_day DESC) AS recency
      FROM snaps s CROSS JOIN latest l
    )
    SELECT CAST(snap_day AS BIGINT) AS snap_day, commit_ts,
      CAST(n_files AS BIGINT) AS n_files, n_rows,
      CASE
        WHEN snap_day > latest_day - {_SNAP_KEEP_DAYS} THEN 'retain_recent'
        WHEN recency <= {_SNAP_KEEP_LAST} THEN 'retain_last{_SNAP_KEEP_LAST}'
        ELSE 'expire'
      END AS action
    FROM ranked
    """,
)
def snapshot_expiry_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiry planning (SURVEY.md §2.1 sink/layout extension)
    — the VACUUM/expire-snapshots pre-pass of a lakehouse table:
    each ingest day is one commit producing its 4 writer-task files
    (the ``layout_zone_map_stats`` file model); the plan marks every
    snapshot retain-by-recency-window, retain-by-last-N, or
    expirable — the deletion list a GC job then intersects with live
    manifests (time travel keeps last-N even past the window, hence
    both rules).

    Scale: the commit log is #snapshots rows (read from the table
    metadata in production, not the data); one aggregate + a window
    over that tiny table. The expensive part at 100 TB — deleting
    unreferenced files — is embarrassingly parallel downstream of this
    plan."""
    events = read_table(spark, sf_dir, "events")
    from wiki_data_pipeline_spark.plans.streaming_ops import TS_US_SPARK

    snaps = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("snap_day")
    ).agg(
        F.date_format(F.max("ts"), TS_US_SPARK).alias("commit_ts"),
        F.countDistinct(F.col("event_id") % 4).alias("n_files"),
        F.count("*").alias("n_rows"),
    )
    latest = snaps.agg(F.max("snap_day").alias("latest_day"))
    w = Window.orderBy(F.col("snap_day").desc())
    # recency is computed BEFORE the scalar crossJoin (r14): it does
    # not depend on latest_day, and putting the partition-less window
    # directly above its bounding aggregate keeps the plan inside the
    # window audit's statically-provable form — the previous
    # window-over-crossJoin shape was equally bounded in fact (the
    # broadcast side is a 1-row global agg) but indistinguishable from
    # a row-multiplying join-under-window, which the audit now
    # conservatively stops at (see tools/plan_audit.py, r14 ADVICE).
    return (
        snaps.withColumn("recency", F.row_number().over(w))
        .crossJoin(F.broadcast(latest))
        .select(
            F.col("snap_day").cast("bigint").alias("snap_day"),
            "commit_ts",
            F.col("n_files").cast("bigint").alias("n_files"),
            "n_rows",
            F.when(
                F.col("snap_day") > F.col("latest_day") - _SNAP_KEEP_DAYS,
                F.lit("retain_recent"),
            )
            .when(
                F.col("recency") <= _SNAP_KEEP_LAST,
                F.lit(f"retain_last{_SNAP_KEEP_LAST}"),
            )
            .otherwise(F.lit("expire"))
            .alias("action"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: sessions × maintenance windows.
# ---------------------------------------------------------------------------

_MAINT_WINDOWS = [
    (1, "2024-01-05 02:00:00", "2024-01-05 08:00:00"),
    (2, "2024-01-12 00:00:00", "2024-01-12 23:59:59"),
    (3, "2024-01-18 12:00:00", "2024-01-19 12:00:00"),
    (4, "2024-01-25 06:00:00", "2024-01-25 07:00:00"),
]


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               > INTERVAL 30 MINUTE
        THEN 1 ELSE 0 END AS is_new,
        event_id
      FROM events
    ),
    sess AS (
      SELECT user_id,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq,
        ts
      FROM g
    ),
    iv AS (
      SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
      FROM sess GROUP BY user_id, session_seq
    ),
    win AS (
      SELECT * FROM (VALUES {', '.join(
        f"({wid}, TIMESTAMP '{ws}', TIMESTAMP '{we}')"
        for wid, ws, we in _MAINT_WINDOWS)}) w(window_id, w_start, w_end)
    )
    SELECT CAST(w.window_id AS BIGINT) AS window_id,
      count(*) AS n_sessions,
      CAST(count(DISTINCT iv.user_id) AS BIGINT) AS n_users,
      CAST(sum(epoch_ms(least(iv.s_end, w.w_end))
               - epoch_ms(greatest(iv.s_start, w.w_start))) AS BIGINT)
        AS overlap_ms
    FROM iv JOIN win w
      ON iv.s_start <= w.w_end AND iv.s_end >= w.w_start
    GROUP BY w.window_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (SURVEY.md §2.4 join-family extension) —
    sessions (the registered ``sessionize_events`` 30-minute-gap rule,
    SURVEY.md §2.9) × maintenance
    windows, reporting affected sessions/users and total overlap
    milliseconds per window: the impact-analysis query behind "which
    users did the outage touch". Overlap is the classic
    s_start ≤ w_end ∧ s_end ≥ w_start predicate; durations use
    epoch-millisecond integers (truncating identically on both
    engines) so the sums are pure BIGINT.

    Scale: windows are few → broadcast-join with the range predicate
    evaluated map-side (no shuffle of the big side). For interval ×
    interval at scale (both sides large), pre-bucket both relations by
    day and equi-join on the bucket before the overlap filter — the
    ``join_range_bucketed`` pattern this query deliberately shares its
    predicate with."""
    from wiki_data_pipeline_spark.operators.sessions import with_session_seq

    events = read_table(spark, sf_dir, "events")
    sess = with_session_seq(events.select("user_id", "ts", "event_id"))
    iv = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    win = F.broadcast(
        read_table(spark, sf_dir, "events")
        .sparkSession.createDataFrame(
            [(wid, ws, we) for wid, ws, we in _MAINT_WINDOWS],
            "window_id INT, w_start STRING, w_end STRING",
        )
        .select(
            "window_id",
            F.col("w_start").cast("timestamp").alias("w_start"),
            F.col("w_end").cast("timestamp").alias("w_end"),
        )
    )
    from wiki_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    joined = interval_overlap_join(
        iv, win, "s_start", "s_end", "w_start", "w_end"
    )
    overlap_ms = F.unix_millis(
        F.least(F.col("s_end"), F.col("w_end"))
    ) - F.unix_millis(F.greatest(F.col("s_start"), F.col("w_start")))
    return joined.groupBy(
        F.col("window_id").cast("bigint").alias("window_id")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(overlap_ms).cast("bigint").alias("overlap_ms"),
    )


# ---------------------------------------------------------------------------
# Character-level entropy: the compressibility/quality signal.
# ---------------------------------------------------------------------------


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(text)), i -> substr(text, i, 1))) AS c
      FROM documents
    ),
    cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
    tot AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM cc GROUP BY doc_id
    )
    SELECT cc.doc_id,
      any_value(t.n) AS n_chars,
      CAST(count(*) AS BIGINT) AS n_distinct_chars,
      CAST(sum(CAST(round(CAST(cnt AS DOUBLE) / t.n
               * -ln(CAST(cnt AS DOUBLE) / t.n) * 1000000) AS BIGINT))
           AS BIGINT) AS entropy_micro
    FROM cc JOIN tot t USING (doc_id)
    GROUP BY cc.doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (nats) —
    the compressibility signal quality pipelines use to catch
    gibberish (too-high entropy) and boilerplate/repetition (too-low;
    complements ``text_repetition_metrics``' n-gram view with a
    character-level one, per the Gopher rules' spirit). Per-char
    -p·ln(p) terms are quantized to integer micro-units through the
    SAME double on both engines (the surprisal discipline: identical
    integer inputs → identical double division/ln/product → identical
    rounding), then summed as BIGINT — partitioning-independent.

    Scale: MAP-ONLY (r9 shuffle-audit rewrite — the explode→groupBy
    spelling re-shuffled 4.6x the corpus bytes for a per-document
    metric). The char histogram is a run-length pass over the SORTED
    char array: one `array_sort` + one linear `aggregate` per doc,
    JVM codegen, no join, no explode; the only exchange is `_spread`'s
    raw-row fixture repartition (conditional since r13 — absent
    entirely on a pre-split production scan). Run lengths in the sorted array ARE
    the per-char counts, each -p·ln(p) term is quantized to BIGINT
    micro-units from the same (run, n) integers the oracle's (cnt, n)
    produce, and integer summation makes the differing term order
    (sorted char order vs group order) invisible. No Python
    anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    # length >= 1 up front: the oracle's generate_series(1, 0) is empty
    # (doc dropped) but Spark's sequence(1, 0) DESCENDS — never build
    # the char array for empty/NULL text
    base = (
        _spread(docs)
        .filter(F.length("text") >= 1)
        .select(
            "doc_id",
            F.array_sort(
                F.expr(
                    "transform(sequence(1, length(text)),"
                    " i -> substring(text, i, 1))"
                )
            ).alias("cs"),
        )
    )
    n = F.size("cs").cast("bigint")
    one = F.lit(1).cast("bigint")

    def _term(run):
        p = run.cast("double") / n.cast("double")
        return F.round(p * -F.log(p) * 1000000, 0).cast("bigint")

    def _step(acc, c):
        is_run = c == acc["prev"]
        return F.struct(
            c.alias("prev"),
            F.when(is_run, acc["run"] + one).otherwise(one).alias("run"),
            F.when(is_run, acc["distinct"])
            .otherwise(acc["distinct"] + one)
            .alias("distinct"),
            F.when(is_run, acc["micro"])
            .otherwise(
                acc["micro"]
                + F.when(acc["run"] > 0, _term(acc["run"])).otherwise(F.lit(0))
            )
            .alias("micro"),
        )

    stats = F.aggregate(
        "cs",
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("distinct"),
            F.lit(0).cast("bigint").alias("micro"),
        ),
        _step,
        lambda acc: F.struct(
            acc["distinct"].alias("distinct"),
            (acc["micro"] + _term(acc["run"])).alias("micro"),
        ),
    )
    return base.select(
        "doc_id",
        n.alias("n_chars"),
        stats["distinct"].alias("n_distinct_chars"),
        stats["micro"].alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# Bloom runtime filter: dim-key membership pre-filter on the fact scan.
# ---------------------------------------------------------------------------

_RF_BITS = 65536
_RF_K = 3


@query(
    "join_bloom_runtime_filter",
    oracle=f"""
    WITH dim AS (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    dim_bits AS (
      SELECT DISTINCT unnest([{', '.join(
        f"('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), {1 + 8 * j}, 8))"
        f"::BIGINT % {_RF_BITS}" for j in range(_RF_K))}]) AS bit
      FROM dim
    ),
    fact AS (
      SELECT l_orderkey,
        [{', '.join(
        f"('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), {1 + 8 * j}, 8))"
        f"::BIGINT % {_RF_BITS}" for j in range(_RF_K))}] AS bits
      FROM lineitem
    ),
    probe AS (
      SELECT f.l_orderkey,
        CAST(min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS pass_bloom
      FROM (SELECT l_orderkey, unnest(list_distinct(bits)) AS bit, row_number()
              OVER (ORDER BY (SELECT NULL)) AS rid
            FROM fact) f
      LEFT JOIN dim_bits b USING (bit)
      GROUP BY f.l_orderkey, f.rid
    ),
    truth AS (SELECT DISTINCT o_orderkey FROM dim)
    SELECT
      count(*) AS n_fact_rows,
      CAST(sum(pass_bloom) AS BIGINT) AS n_pass_bloom,
      CAST(sum(CASE WHEN t.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_true_match,
      CAST(sum(CASE WHEN pass_bloom = 1 AND t.o_orderkey IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pass,
      CAST((2 * 1000000 * sum(pass_bloom) + count(*)) // (2 * count(*))
           AS BIGINT) AS pass_frac_micro
    FROM probe p LEFT JOIN truth t ON t.o_orderkey = p.l_orderkey
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime filter for a selective star join (J1-family
    extension; the hand-rolled, measurable version of what Spark's
    runtime row-group filtering / DPP does): the filtered dimension's
    join keys set k=3 bits in an m=64k-bit filter; every fact row is
    pre-screened against the broadcast bits BEFORE any shuffle or join,
    and the summary reconciles bloom passes vs exact matches — the
    false-pass count is exactly the wasted shuffle volume the filter
    failed to eliminate, and pass_frac is the scan-reduction factor a
    planner would bank.

    Scale: the whole point — at 100 TB the fact table never shuffles
    on the join key until after a map-side membership test whose state
    is m bits broadcast to every executor (vs broadcasting the key SET,
    which grows with the dim). Per-row cost is one md5; the follow-up
    exact join (``j1``/``q4``) then runs on the surviving fraction."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )

    def _bits(key: str):
        h = F.md5(F.col(key).cast("string"))
        return F.array(
            *[
                (
                    F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long")
                    % _RF_BITS
                )
                for j in range(_RF_K)
            ]
        )

    # materialize the ≤m-row bit table ONCE (eager localCheckpoint):
    # it feeds K broadcast branches below, and Catalyst would otherwise
    # specialize each branch into its own orders-scan + explode +
    # distinct shuffle (the branch-specialization rule from SCALE.md)
    dim_bits = (
        dim.select(F.explode(_bits("o_orderkey")).alias("bit"))
        .distinct()
        .transform(pin)
    )
    # Per-row membership test as K independent BROADCAST joins (one per
    # hash function) — NOT explode + groupBy-back: the old shape
    # shuffled 3×|fact| exploded rows to regroup them, which is exactly
    # the keyed exchange the bloom filter exists to avoid. With one
    # left join per bit position the probe stage is fully narrow (three
    # broadcast hash joins pipelined in one codegen stage, zero
    # exchanges before the final 1-row summary); a row passes iff every
    # bit position found a match, identical to min(present) over the
    # exploded form.
    bits = _bits("l_orderkey")
    probe = lineitem.select(
        "l_orderkey",
        *[bits.getItem(j).alias(f"b{j}") for j in range(_RF_K)],
    )
    for j in range(_RF_K):
        probe = probe.join(
            F.broadcast(
                dim_bits.select(
                    F.col("bit").alias(f"b{j}"), F.lit(1).alias(f"p{j}")
                )
            ),
            on=f"b{j}",
            how="left",
        )
    all_present = F.lit(True)
    for j in range(_RF_K):
        all_present = all_present & F.col(f"p{j}").isNotNull()
    probe = probe.select(
        "l_orderkey",
        F.when(all_present, F.lit(1)).otherwise(0).cast("bigint").alias(
            "pass_bloom"
        ),
    )
    truth = dim.select(F.col("o_orderkey").alias("l_orderkey")).distinct()
    return (
        probe.join(
            F.broadcast(truth.withColumn("is_match", F.lit(1))),
            on="l_orderkey",
            how="left",
        )
        .agg(
            F.count("*").alias("n_fact_rows"),
            F.sum("pass_bloom").cast("bigint").alias("n_pass_bloom"),
            F.sum(F.coalesce(F.col("is_match"), F.lit(0)))
            .cast("bigint")
            .alias("n_true_match"),
            F.sum(
                F.when(
                    (F.col("pass_bloom") == 1) & F.col("is_match").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pass"),
        )
        .withColumn(
            "pass_frac_micro",
            F.expr(
                "(2 * 1000000 * n_pass_bloom + n_fact_rows)"
                " div (2 * n_fact_rows)"
            ).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-user event volume: the skew metric.
# ---------------------------------------------------------------------------


@query(
    "skew_gini_coefficient",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS x FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per_user
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx,
        CAST(sum(i * x) AS BIGINT) AS six
      FROM ranked
    )
    SELECT n AS n_users, sx AS total_events,
      CAST((2 * 1000000 * (2 * six - (n + 1) * sx) + n * sx)
           // (2 * n * sx) AS BIGINT) AS gini_micro
    FROM sums
    """,
)
def skew_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event volume — the single-number
    skew instrument that complements ``skew_heavy_hitters``' top-k
    view (Gini ≈ 0 → uniform keys, safe hash partitioning; → 1 → a
    few hub keys own the table and joins need salting/AQE skew
    handling). Computed by the rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over counts sorted ascending —
    every term an exact BIGINT (ties contribute identically under any
    tie-break, so the id tie-break is for determinism only), and the
    final ratio one exact half-up micro division.

    Scale: one hash aggregate to per-key counts, one sort of the
    (much smaller) key-count table for ranks — swap the global
    row_number for the L3 two-pass partition-offset pattern when the
    key table itself is huge; the three sums are a single reduce."""
    events = read_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count("*").alias("x"))
    w = Window.orderBy("x", "user_id")
    ranked = per_user.withColumn("i", F.row_number().over(w))
    return (
        ranked.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
        )
        .select(
            F.col("n").alias("n_users"),
            F.col("sx").alias("total_events"),
            F.expr(
                "(2 * 1000000 * (2 * six - (n + 1) * sx) + n * sx)"
                " div (2 * n * sx)"
            ).cast("bigint")
            .alias("gini_micro"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weights: target-vs-raw unigram LM log-ratios.
# ---------------------------------------------------------------------------


@query(
    "sample_dsir_importance",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\\s+')) AS t
      FROM documents
    ),
    dt AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY doc_id, t),
    raw_lm AS (SELECT t, count(*) AS c_raw FROM tok GROUP BY t),
    tgt_lm AS (
      SELECT t, count(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY t
    ),
    consts AS (
      SELECT (SELECT count(*) FROM tok) AS n_raw,
        (SELECT count(*) FROM tok WHERE lang = 'en') AS n_tgt,
        (SELECT count(*) FROM raw_lm) AS v
    ),
    w AS (
      SELECT r.t,
        CAST(round((ln(CAST(coalesce(g.c_tgt, 0) + 1 AS DOUBLE)
                       / (c.n_tgt + c.v))
                    - ln(CAST(r.c_raw + 1 AS DOUBLE) / (c.n_raw + c.v)))
                   * 1000000) AS BIGINT) AS w_micro
      FROM raw_lm r LEFT JOIN tgt_lm g USING (t) CROSS JOIN consts c
    )
    SELECT dt.doc_id,
      CAST(sum(dt.cnt) AS BIGINT) AS n_tokens,
      CAST(sum(dt.cnt * w.w_micro) AS BIGINT) AS logratio_micro,
      CAST((2 * sum(dt.cnt * w.w_micro) + sum(dt.cnt))
           // (2 * sum(dt.cnt)) AS BIGINT) AS per_token_micro
    FROM dt JOIN w USING (t)
    GROUP BY dt.doc_id
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, Data Selection via
    Importance Resampling; SURVEY.md §2 sampling-family extension):
    score every raw document by how much more likely its tokens are
    under the TARGET distribution (here lang='en' — "select web text
    that looks like English wiki") than under the raw corpus —
    log p_target(doc)/p_raw(doc) under add-1-smoothed unigram LMs
    over the shared vocabulary. Docs with high weights are what
    importance resampling keeps. Per-token log-ratios are quantized
    to integer micro-units through the same double on both engines
    (the surprisal discipline), then the per-doc sum and per-token
    mean are pure BIGINT.

    Scale: ONE explode pass builds the (doc, lang, term) count frame
    (pinned with localCheckpoint — every statistic below is a cheap
    re-aggregation of it, where the earlier spelling re-exploded the
    corpus four times: doc-term counts, raw LM, target LM, scalar
    consts); both LMs come from a single conditional aggregate on the
    term key (c_raw = Σcnt, c_tgt = Σcnt·[lang=en]); consts are one
    O(1)-row aggregate of the vocab-sized LM table; then one
    token-keyed join of doc term counts against the weight table —
    the ``score_unigram_surprisal`` shape with a two-LM ratio. Weight
    tables are vocab-sized; doc scoring never shuffles the corpus
    except on token keys."""
    docs = read_table(spark, sf_dir, "documents")
    tok = _spread(docs).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
    )
    # lang is functionally dependent on doc_id, so grouping by
    # (doc_id, lang, t) has exactly (doc_id, t) granularity — it just
    # carries lang through for the target-LM split below.
    dt = (
        tok.groupBy("doc_id", "lang", "t")
        .agg(F.count("*").alias("cnt"))
        .transform(pin)
    )
    lm = dt.groupBy("t").agg(
        F.sum("cnt").alias("c_raw"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", F.col("cnt"))), F.lit(0)
        ).alias("c_tgt"),
    )
    consts = lm.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"),
    )
    w = (
        lm.crossJoin(F.broadcast(consts))
        .select(
            "t",
            F.round(
                (
                    F.log(
                        (F.col("c_tgt") + 1).cast("double")
                        / (F.col("n_tgt") + F.col("v"))
                    )
                    - F.log(
                        (F.col("c_raw") + 1).cast("double")
                        / (F.col("n_raw") + F.col("v"))
                    )
                )
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("w_micro"),
        )
    )
    return (
        dt.join(w, on="t")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("w_micro"))
            .cast("bigint")
            .alias("logratio_micro"),
        )
        .withColumn(
            "per_token_micro",
            F.expr("(2 * logratio_micro + n_tokens) div (2 * n_tokens)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration: signature estimate vs exact Jaccard.
# ---------------------------------------------------------------------------


@query(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
        ({' + '.join(
            f'CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END'
            for s in range(8))}) * 125000 AS est_micro
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, count(*) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT e.doc_a, e.doc_b,
      CAST(e.est_micro AS BIGINT) AS est_micro,
      CAST((2 * 1000000 * coalesce(c.c, 0)
            + (sa.n + sb.n - coalesce(c.c, 0)))
           // (2 * (sa.n + sb.n - coalesce(c.c, 0))) AS BIGINT)
        AS true_micro,
      CAST(abs(e.est_micro
               - (2 * 1000000 * coalesce(c.c, 0)
                  + (sa.n + sb.n - coalesce(c.c, 0)))
                 // (2 * (sa.n + sb.n - coalesce(c.c, 0)))) AS BIGINT)
        AS err_micro
    FROM est e
    LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (SURVEY.md §2.3 dedup-family
    eval, the ``sim_ann_recall_eval`` pattern applied to dedup): for
    every LSH candidate pair, the signature-agreement Jaccard estimate
    (matching minhashes / 8 — each an exact 125000-micro step) is laid
    against the EXACT shingle-set Jaccard, giving the per-pair
    estimator error that justifies (or indicts) the banding
    parameters. est is the unbiased MinHash estimator; err_micro is
    what you histogram to pick _N_HASHES before a 100 TB run.

    Scale: signatures and sizes are per-doc rows joined only for
    candidate pairs (never all-pairs); the exact-intersection stage is
    a candidate-restricted join against per-doc state.

    r11 single-consumption spelling (verdict item 5), r15 repair: ONE
    frame carries BOTH per-doc states — the 8 minhashes AND the
    distinct shingle array (the signature stage delegates to
    operators/dedup.py minhash_signatures; the array is the
    dedup_minhash_verified shape) — derived once and PINNED
    (localCheckpoint). The r11 form pinned it behind an explicit
    repartition exchange on doc_id, counting on ReusedExchange/AQE
    stage reuse to compute the map once across the three consumers —
    but column pruning rewrites the BAND consumer's exchange to a
    9-column variant (it never reads ``sh``) while the pair-side
    joins keep the 10-column one, so the exchanges no longer
    canonicalize together and the md5 minhash map — the registry's
    densest CPU stage — ran TWICE (r15 plan audit: three full
    scan→union→signature subtrees in the static plan, zero
    ReusedExchange; only the sa/sb pair deduped at runtime). An
    eager pin is immune to consumer-side pruning: one
    materialization, three checkpoint scans. The
    exact-Jaccard side rides the SAME two pair joins as the estimate
    (array_intersect per candidate, O(|A|+|B|) per pair) — the r6
    inverted shingle join needed three more joins and a groupBy over
    exploded (doc, shingle) rows, which the shared-frame form replaces
    outright (both forms verified value-identical)."""
    from wiki_data_pipeline_spark.operators.dedup import minhash_signatures
    from wiki_data_pipeline_spark.plans.llm_ops import (
        _bands_from_sigs,
        pairs_from_bands,
    )

    corpus = _dedup_corpus(spark, sf_dir)
    state = minhash_signatures(corpus, include_shingles=True).transform(pin)
    pairs = pairs_from_bands(_bands_from_sigs(state))
    sa = state.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(8)],
    )
    sb = state.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(8)],
    )
    n_eq = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("long") for s in range(8)
    )
    c = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_eq * 125000).alias("est_micro"),
            c.alias("c"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("est_micro").cast("bigint").alias("est_micro"),
            F.expr("(2 * 1000000 * c + (na + nb - c)) div (2 * (na + nb - c))")
            .cast("bigint")
            .alias("true_micro"),
            F.expr(
                "abs(est_micro - (2 * 1000000 * c + (na + nb - c))"
                " div (2 * (na + nb - c)))"
            )
            .cast("bigint")
            .alias("err_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonality baseline + deviation scoring.
# ---------------------------------------------------------------------------


@query(
    "events_hourly_seasonality",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        CAST(extract(hour FROM ts) AS BIGINT) AS hod,
        count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, hod,
        CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS days
      FROM hourly GROUP BY event_type, hod
    )
    SELECT h.event_type, strftime(h.day, '%Y-%m-%d') AS day, h.hod,
      h.n AS n_events,
      CAST((2 * 1000000 * b.tot + b.days) // (2 * b.days) AS BIGINT)
        AS baseline_micro,
      CAST(abs(1000000 * h.n - (2 * 1000000 * b.tot + b.days) // (2 * b.days))
           AS BIGINT) AS abs_dev_micro
    FROM hourly h JOIN base b USING (event_type, hod)
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality baseline (SURVEY.md §2.5 aggregation
    extension; the grouped-baseline companion to the global
    ``events_anomaly_mad``): per (type, hour-of-day) mean daily volume
    as the seasonal expectation, and each (type, day, hour) cell's
    absolute deviation from it — the residual a seasonal anomaly
    detector thresholds (dividing by a robust spread, per the MAD
    query, is the next stage). Baseline means are exact half-up micro
    divisions of integer counts — pure BIGINT end to end.

    Scale: two hash aggregates over the same (type, day, hour) keys
    (the second collapses day out — strictly smaller), one broadcast-
    able 24·|types|-row baseline join back. No sorts, no windows."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count("*").alias("n"))
    base = hourly.groupBy("event_type", "hod").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("days"),
    )
    joined = hourly.join(F.broadcast(base), on=["event_type", "hod"])
    baseline = "(2 * 1000000 * tot + days) div (2 * days)"
    return joined.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "hod",
        F.col("n").alias("n_events"),
        F.expr(baseline).cast("bigint").alias("baseline_micro"),
        F.expr(f"abs(1000000 * n - ({baseline}))")
        .cast("bigint")
        .alias("abs_dev_micro"),
    )


# ---------------------------------------------------------------------------
# Shingle novelty: how much does each doc add that earlier docs lack?
# ---------------------------------------------------------------------------


@query(
    "text_shingle_novelty",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    {_SHINGLE_SQL},
    firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
      count(*) AS n_shingles,
      CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_novel,
      CAST((2 * 1000000 * sum(CASE WHEN f.first_doc = sh.doc_id
                              THEN 1 ELSE 0 END) + count(*))
           // (2 * count(*)) AS BIGINT) AS novelty_micro
    FROM sh JOIN firsts f USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty scoring — per document, the fraction of its
    word-3-gram shingles whose FIRST occurrence (min doc_id = ingest
    order) is this document: the marginal-contribution measure data
    curation uses to rank what a doc adds to the corpus (near-zero
    novelty ⇒ the doc is assembled from already-seen text — the
    soft, scoring-flavored complement to ``dedup_ngram_containment``).

    Scale: one shingle explode (narrow), one shuffle on shingle for
    the min-aggregate, one shuffle back to attribute — exactly the
    inverted-index cost the n-gram dedup family already pays; the
    firsts table is vocabulary-sized. Min-by-ingest-order is an
    associative aggregate, so incremental batches fold in without
    recomputing history."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # pinned: the shingle stream feeds the firsts aggregate AND the
    # attribution join — unpinned, each re-shingles the corpus
    sh = _shingles(docs).transform(pin)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, on="shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_micro",
            F.expr("(2 * 1000000 * n_novel + n_shingles) div (2 * n_shingles)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Semi-structured schema inference: key presence / type drift audit.
# ---------------------------------------------------------------------------


@query(
    "st_props_schema_audit",
    oracle=r"""
    WITH payload AS (
      SELECT event_id,
        CASE event_id % 3
          WHEN 0 THEN props
          WHEN 1 THEN CASE
            WHEN props IS NOT NULL AND regexp_matches(props, '^\{[^\n\r]+\}\z')
            THEN regexp_replace(props, '\}$',
              ', "extra": "tag", "v2": true}')
            ELSE '{"extra": "tag", "v2": true}' END
          ELSE CASE WHEN props IS NOT NULL AND json_valid(props)
               THEN '{"renamed_k": ' || json_extract_string(props, '$.k')
                    || '}' END
        END AS p
      FROM events
    ),
    total AS (SELECT count(*) AS n FROM payload),
    kv AS (
      SELECT event_id, unnest(json_keys(p)) AS key, p FROM payload
      WHERE p IS NOT NULL AND json_valid(p)
    )
    SELECT kv.key,
      count(*) AS n_present,
      CAST((2 * 1000000 * count(*) + any_value(t.n)) // (2 * any_value(t.n))
           AS BIGINT) AS present_frac_micro,
      CAST(sum(CASE WHEN try_cast(json_extract_string(kv.p, '$.' || kv.key)
                         AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_bigint_castable,
      CASE WHEN sum(CASE WHEN try_cast(json_extract_string(kv.p, '$.' || kv.key)
                         AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) = count(*)
           THEN 'bigint' ELSE 'string' END AS inferred_type
    FROM kv CROSS JOIN total t
    GROUP BY kv.key
    """,
)
def st_props_schema_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-drift audit (S8/§2.10 schema-on-read
    family, the inference side of ``st_props_variant_extract``): over a
    heterogeneous JSON payload (synthesized here by evolving the
    fixture's uniform ``props`` across three writer generations —
    added keys, renamed keys — because the fixture itself is
    single-key), report per-key presence counts, presence fraction
    (exact half-up micro), and an inferred type from castability —
    the evidence a schema registry needs before widening a table or
    flagging a producer.

    Scale: one pass — key explode via json_keys (JVM-side), hash agg
    on key; the key space is schema-sized, so the aggregate output is
    tiny regardless of input volume."""
    events = read_table(spark, sf_dir, "events")
    payload = events.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.col("props")
        )
        .when(
            F.col("event_id") % 3 == 1,
            # Splice only into a non-empty object-shaped payload; a
            # degenerate props ('{}', '', malformed, non-object) gets
            # the writer's fresh tag object deliberately instead of a
            # corrupt splice that the json_valid gate would silently
            # drop downstream.
            # \z, not $: Java's $ matches before a final line
            # terminator while RE2's is end-of-text — a props ending
            # in a newline would splice on one engine and not the
            # other (review finding r12; adversarial row pins it).
            # [^\n\r], not .: Java's dot excludes \r, NEL, and the
            # U+2028/U+2029 separators while RE2's excludes only \n,
            # so a bare carriage
            # return INSIDE the payload spliced on DuckDB but fell to
            # the fresh-tag branch on Spark (r13, ADVICE); the explicit
            # class means exactly the same thing in both engines
            # (adversarial rows 900015/900016 pin it).
            F.when(
                F.col("props").rlike(r"^\{[^\n\r]+\}\z"),
                F.regexp_replace(
                    F.col("props"), r"\}$", ', "extra": "tag", "v2": true}'
                ),
            ).otherwise(F.lit('{"extra": "tag", "v2": true}')),
        )
        .otherwise(
            F.concat(
                F.lit('{"renamed_k": '),
                F.get_json_object(F.col("props"), "$.k"),
                F.lit("}"),
            )
        )
        .alias("p"),
    )
    total = payload.agg(F.count("*").alias("n"))
    # explode to (key, value) pairs via a map parse — the value arrives
    # as its JSON-textual form, matching json_extract_string's output.
    kv = payload.select(
        "event_id",
        F.explode(F.from_json("p", "map<string,string>")).alias("key", "value"),
    )
    castable = F.sum(
        F.expr("try_cast(value AS BIGINT)").isNotNull().cast("long")
    )
    return (
        kv.crossJoin(F.broadcast(total))
        .groupBy("key")
        .agg(
            F.count("*").alias("n_present"),
            F.any_value("n").alias("_n"),
            castable.cast("bigint").alias("n_bigint_castable"),
        )
        .select(
            "key",
            "n_present",
            F.expr("(2 * 1000000 * n_present + _n) div (2 * _n)")
            .cast("bigint")
            .alias("present_frac_micro"),
            "n_bigint_castable",
            F.when(
                F.col("n_bigint_castable") == F.col("n_present"), F.lit("bigint")
            )
            .otherwise(F.lit("string"))
            .alias("inferred_type"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: heuristic LID vs gold labels.
# ---------------------------------------------------------------------------

from wiki_data_pipeline_spark.plans.registry import _REGISTRY as _PREG  # noqa: E402


@query(
    "text_lang_confusion",
    oracle=f"""
    WITH lid AS ({_PREG['text_lang_id'].oracle}),
    total AS (SELECT count(*) AS n FROM lid)
    SELECT lang, guessed_lang,
      count(*) AS n_docs,
      CAST((2 * 1000000 * count(*) + any_value(t.n)) // (2 * any_value(t.n))
           AS BIGINT) AS cell_frac_micro,
      CAST(CASE WHEN (lang = 'en') = (guessed_lang = 'en') THEN 1 ELSE 0 END
           AS BIGINT) AS is_correct
    FROM lid CROSS JOIN total t
    GROUP BY lang, guessed_lang
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the evaluation layer over the
    registered ``text_lang_id`` heuristic (the ``sim_ann_recall_eval``
    pattern applied to LID, per SURVEY.md §2.8's text-quality family):
    gold label × prediction cell counts and fractions, with the
    en-vs-other correctness flag per cell. A pipeline gates LID model
    upgrades on exactly this table (precision on 'en' decides how much
    non-English leaks into an English-only training mix).

    Scale: rides the LID scoring pass (map-only) plus one tiny
    |langs|² aggregate; the oracle composes the REGISTERED text_lang_id
    oracle so the eval always scores the shipped definition."""
    lid = _PREG["text_lang_id"].fn(spark, sf_dir)
    total = lid.agg(F.count("*").alias("n"))
    return (
        lid.crossJoin(F.broadcast(total))
        .groupBy("lang", "guessed_lang")
        .agg(F.count("*").alias("n_docs"), F.any_value("n").alias("_n"))
        .select(
            "lang",
            "guessed_lang",
            "n_docs",
            F.expr("(2 * 1000000 * n_docs + _n) div (2 * _n)")
            .cast("bigint")
            .alias("cell_frac_micro"),
            ((F.col("lang") == "en") == (F.col("guessed_lang") == "en"))
            .cast("bigint")
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# MERGE-upsert planning: classify a delta batch against current state.
# ---------------------------------------------------------------------------


@query(
    "cdc_merge_plan",
    oracle="""
    WITH cutoff AS (SELECT CAST(max(event_id) * 0.8 AS BIGINT) AS c FROM events),
    hist_state AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events CROSS JOIN cutoff WHERE event_id <= c
      ) WHERE rn = 1
    ),
    delta_latest AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events CROSS JOIN cutoff WHERE event_id > c
      ) WHERE rn = 1
    )
    SELECT action, count(*) AS n_users FROM (
      SELECT CASE
        WHEN h.user_id IS NULL THEN 'insert'
        WHEN (d.ts > h.ts) OR (d.ts = h.ts AND d.event_id > h.event_id)
          THEN 'update'
        ELSE 'stale_skip'
      END AS action
      FROM delta_latest d LEFT JOIN hist_state h USING (user_id)
    ) GROUP BY action
    """,
)
def cdc_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO planning — classify a CDC delta batch against the
    compacted current state (K3/ST2 + ``cdc_latest_state``'s §2.11
    family): per target key the delta's latest row is an ``insert``
    (key unseen), an ``update`` (newer by the (ts, event_id) version
    order), or a ``stale_skip`` (out-of-order replay older than
    current state — the case naive upserts corrupt). The count-per-
    action table is both the dry-run audit and the shuffle-size
    estimate a MERGE job plans its file rewrites from.

    Scale: both sides compact map-side before a key-equi join of two
    ≤|keys| tables (never event×event); delta is id-bounded
    (high-watermark resume). Both sides grow with |users| — neither is
    fixed-size — so the classification join is a DESIGNED shuffle join
    at 100 TB: Catalyst broadcasts it at fixture SF and flips to
    SortMergeJoin once stats outgrow the threshold (observed at x10
    with the r14 multi-file replica; registered as an expected flip in
    tools/plan_scale_diff.py EXPECTED_SHUFFLE_AT_SCALE — do not "fix"
    with a broadcast hint, which would OOM the build side at scale).
    The version tie-break is total (event_id
    unique), so both engines classify identically. Compaction is
    operators/cdc.py compact_latest (version-only payload)."""
    from wiki_data_pipeline_spark.operators.cdc import compact_latest

    events = read_table(spark, sf_dir, "events")
    cutoff = events.agg(
        (F.max("event_id") * 0.8).cast("bigint").alias("c")
    )
    ec = events.crossJoin(F.broadcast(cutoff))
    hist = compact_latest(
        ec.filter(F.col("event_id") <= F.col("c")), payload=(), out="hv"
    )
    delta = compact_latest(
        ec.filter(F.col("event_id") > F.col("c")), payload=(), out="dv"
    )
    return (
        delta.join(hist, on="user_id", how="left")
        .select(
            F.when(F.col("hv").isNull(), F.lit("insert"))
            .when(F.col("dv") > F.col("hv"), F.lit("update"))
            .otherwise(F.lit("stale_skip"))
            .alias("action")
        )
        .groupBy("action")
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "cdc_merge_apply",
    oracle="""
    WITH cutoff AS (SELECT CAST(max(event_id) * 0.8 AS BIGINT) AS c FROM events),
    hist AS (
      SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events CROSS JOIN cutoff WHERE event_id <= c
      ) WHERE rn = 1
    ),
    delta AS (
      SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events CROSS JOIN cutoff WHERE event_id > c
      ) WHERE rn = 1
    )
    SELECT user_id, CAST(event_id AS BIGINT) AS last_event_id,
      strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
      event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC) AS rn
      FROM (SELECT * FROM hist UNION ALL SELECT * FROM delta)
    ) WHERE rn = 1
    """,
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO execution — APPLY the classification
    ``cdc_merge_plan`` only counts: full-outer join the compacted
    current state with the delta batch's per-key latest row and keep
    the newer version per key (insert where state had no key, update
    where the delta wins the (ts, event_id) version order, retain
    state where the delta is a stale replay). Output is the post-merge
    state table in ``cdc_latest_state``'s exact shape — by
    construction MERGE(state(log), latest(delta)) ≡ latest(log ∪
    delta), the merge ≡ recompute discipline ``incr_agg_merge``
    established (SURVEY.md §2.11 state-log family; reference K3/K4
    mutate-state-per-row files, src/wiki_data_processor.py queue/
    checkpoint rewrite loop).

    Scale: both sides compact map-side (one hash aggregate each, ≤
    |keys| rows) before a key-equi full-outer join — the delta never
    joins raw events, and the merged table writes without any sort.
    The version tie-break is total (event_id unique), so the winner is
    deterministic on both engines. Composition lives in
    operators/cdc.py (cross-engine fuzzed in tests/test_cdc_fuzz.py,
    including the merge ≡ recompute law on random changelogs)."""
    from wiki_data_pipeline_spark.operators.cdc import (
        compact_latest,
        merge_latest,
    )
    from wiki_data_pipeline_spark.plans.streaming_ops import TS_US_SPARK

    events = read_table(spark, sf_dir, "events")
    cutoff = events.agg(
        (F.max("event_id") * 0.8).cast("bigint").alias("c")
    )
    ec = events.crossJoin(F.broadcast(cutoff))
    hist = compact_latest(ec.filter(F.col("event_id") <= F.col("c")), out="hv")
    delta = compact_latest(ec.filter(F.col("event_id") > F.col("c")), out="dv")
    merged = merge_latest(hist, delta)
    return merged.select(
        "user_id",
        F.col("m.event_id").cast("bigint").alias("last_event_id"),
        F.date_format("m.ts", TS_US_SPARK).alias("last_ts"),
        F.col("m.event_type").alias("last_event_type"),
        F.col("m.value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Cross-method dedup impact report.
# ---------------------------------------------------------------------------


@query(
    "dedup_impact_report",
    oracle=f"""
    WITH lsh AS ({_PREG['dedup_minhash_lsh'].oracle}),
    jac AS ({_PREG['dedup_ngram_jaccard'].oracle}),
    cont AS ({_PREG['dedup_ngram_containment'].oracle})
    SELECT 'minhash_lsh' AS method, count(*) AS n_pairs,
      CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b) AS BIGINT)
        AS n_doc_slots
    FROM lsh
    UNION ALL
    SELECT 'ngram_jaccard', count(*),
      CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b) AS BIGINT)
    FROM jac
    UNION ALL
    SELECT 'ngram_containment', count(*),
      CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b) AS BIGINT)
    FROM cont
    """,
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup impact report (§2.3 dedup-family roll-up):
    one row per candidate-generation method — banded MinHash-LSH,
    exact n-gram Jaccard, asymmetric containment — with its pair
    volume and affected-document slots, composed from the REGISTERED
    queries/oracles so the report always reflects the shipped
    definitions (the recall_eval composition pattern). This is the
    table a dedup rollout reviews before picking thresholds: LSH pair
    volume bounds cluster-stage cost, the Jaccard/containment deltas
    show what each refinement drops.

    Scale: each branch is the already-audited plan of its method; the
    roll-up adds three O(1)-row aggregates and a union. r16 (guide
    §2.4 / VERDICT item 5 pattern): the Jaccard and containment
    branches project from ONE pinned `pairwise_shingle_overlap` frame
    instead of running the shingle inverted-index join once per score
    (the r15 plan held 54 parquet scans = 18 corpus subtrees); the
    projected pair sets are expression-identical to the registered
    queries' results (shared operators/dedup.py projections)."""
    from wiki_data_pipeline_spark.operators.dedup import (
        containment_from_overlap,
        jaccard_from_overlap,
        pairwise_shingle_overlap,
    )
    from wiki_data_pipeline_spark.plans.llm_ops import (
        _CONTAINMENT_THRESHOLD,
        _dedup_corpus,
        _JACCARD_MAX_DOC,
        _JACCARD_THRESHOLD,
    )

    bounded = _dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 100000 < _JACCARD_MAX_DOC
    )
    ov = pairwise_shingle_overlap(bounded).transform(pin)
    branches = []
    for method, pairs in [
        ("minhash_lsh", _PREG["dedup_minhash_lsh"].fn(spark, sf_dir)),
        ("ngram_jaccard", jaccard_from_overlap(ov, _JACCARD_THRESHOLD)),
        (
            "ngram_containment",
            containment_from_overlap(ov, _CONTAINMENT_THRESHOLD),
        ),
    ]:
        branches.append(
            pairs.agg(
                F.count("*").alias("n_pairs"),
                (
                    F.countDistinct("doc_a") + F.countDistinct("doc_b")
                ).cast("bigint").alias("n_doc_slots"),
            ).select(F.lit(method).alias("method"), "n_pairs", "n_doc_slots")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


# ---------------------------------------------------------------------------
# IVF posting-list balance audit.
# ---------------------------------------------------------------------------

from wiki_data_pipeline_spark.plans.llm_ops import (  # noqa: E402
    _CENT_ID_CAP,
    _N_CENTROIDS_MOD,
)


@query(
    "sim_ivf_cell_stats",
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
    cells AS (SELECT cid, count(*) AS n_vectors FROM assign GROUP BY cid),
    tot AS (
      SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
        CAST(count(*) AS BIGINT) AS k
      FROM cells
    )
    SELECT c.cid, c.n_vectors,
      CAST((2 * 1000000 * c.n_vectors + t.total) // (2 * t.total) AS BIGINT)
        AS share_micro,
      CAST((2 * 1000000 * c.n_vectors * t.k + t.total) // (2 * t.total)
           AS BIGINT) AS imbalance_micro
    FROM cells c CROSS JOIN tot t
    """,
)
def sim_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF posting-list balance audit (SURVEY.md §2 similarity-family
    eval; the serving-health companion to ``sim_ann_recall_eval``):
    per-cell vector counts, corpus share, and imbalance vs the ideal
    1/k share (imbalance_micro = n·k/total in exact micro units). A
    hot cell (imbalance ≫ 1e6) means probe latency spikes and argues
    for re-training centroids or splitting the cell — the same
    decision loop ``skew_heavy_hitters`` drives for join keys, applied
    to the ANN index.

    Scale: one broadcast assignment pass (the registered sim_ann_ivf
    stage) + a k-row aggregate — the audit rides the index build."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = emb.filter(
        (F.col("vec_id") % _N_CENTROIDS_MOD == 0)
        & (F.col("vec_id") < _CENT_ID_CAP)
    ).select(F.col("vec_id").alias("cid"), as_double("embedding").alias("ce"))
    # _spread before the fold (r16, VERDICT item 1a root cause — see
    # sim_ann_ivf): single-split fixture scan would run the whole
    # interpreted k×dim fold on one core; no-op on a pre-split scan.
    v = _spread(emb.select("vec_id", as_double("embedding").alias("ve")))
    # Narrow argmax fold over a one-row broadcast centroid array (r15,
    # guide §5) — same ordering as the max_by(cid, struct(s, nc))
    # aggregate it replaces (see sim_ann_ivf), minus that form's
    # SortAggregate sort of N·k rows and its exchange.
    cents = cent.agg(
        F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("cents")
    )
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(cosine(F.col("ve"), c.ce), 6).alias("s"),
                (-c.cid).alias("nc"),
            ),
        )
    )
    assign = (
        v.crossJoin(F.broadcast(cents))
        .select("vec_id", best.alias("best"))
        .filter(F.col("best").isNotNull())
        .select("vec_id", (-F.col("best.nc")).alias("cid"))
    )
    cells = assign.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    # total/k as window aggregates over `cells` (r16, guide §2.4 /
    # VERDICT item 1a): the r15 form computed a separate 1-row `tot`
    # aggregate and re-attached it by a broadcast cross join — but
    # `cells` was then consumed TWICE, and the two groupBy(cid)
    # exchanges did not canonicalize in the static plan, so the ENTIRE
    # assignment pipeline (embeddings scan + centroid collect + fold +
    # aggregate) executed twice per run (8 parquet scans, two
    # ObjectHash centroid collects). A partition-less window over
    # `cells` is
    # k-BOUNDED input (≤ _N_CENTROIDS rows by construction — cid is
    # drawn from the capped centroid set), so the single-partition
    # sort-free frame is O(k); the duplicated subtree, the second
    # centroid collect, and the extra broadcast all disappear. Same
    # total (sum over all cells) and k (count of cells) per row.
    w_all = Window.partitionBy()
    return (
        cells.select(
            "cid",
            "n_vectors",
            F.sum("n_vectors").over(w_all).cast("bigint").alias("total"),
            F.count(F.lit(1)).over(w_all).cast("bigint").alias("k"),
        )
        .select(
            "cid",
            "n_vectors",
            F.expr("(2 * 1000000 * n_vectors + total) div (2 * total)")
            .cast("bigint")
            .alias("share_micro"),
            F.expr("(2 * 1000000 * n_vectors * k + total) div (2 * total)")
            .cast("bigint")
            .alias("imbalance_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences.
# ---------------------------------------------------------------------------


@query(
    "path_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    row_tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM trans GROUP BY src)
    SELECT t.src, t.dst, t.n AS n_transitions,
      CAST((2 * 1000000 * t.n + r.tot) // (2 * r.tot) AS BIGINT) AS prob_micro
    FROM trans t JOIN row_tot r USING (src)
    """,
)
def path_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (§2.9 path-mining family — the normalized-probability
    complement to ``path_common_triples``' raw top-k): P(next event |
    current event) as exact half-up micro fractions of row totals.
    This matrix is what funnel simulation, next-event prediction
    baselines, and anomaly scoring of improbable paths consume.

    Scale: one (user)-partitioned sort shared with the sessionize
    lineage for the lead(), then map-side-collapsing counts onto a
    ≤|types|² key space — the aggregate output is schema-sized no
    matter the input volume."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    trans = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    row_tot = trans.groupBy("src").agg(F.sum("n").cast("bigint").alias("tot"))
    return (
        trans.join(F.broadcast(row_tot), on="src")
        .select(
            "src",
            "dst",
            F.col("n").alias("n_transitions"),
            F.expr("(2 * 1000000 * n + tot) div (2 * tot)")
            .cast("bigint")
            .alias("prob_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling OLS trend slope over daily volumes (exact rational + micro).
# ---------------------------------------------------------------------------


@query(
    "window_moving_regression",
    oracle="""
    WITH daily AS (
      SELECT event_type,
        date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT event_type, x, y,
        count(*) OVER w AS n,
        CAST(sum(x) OVER w AS BIGINT) AS sx,
        CAST(sum(y) OVER w AS BIGINT) AS sy,
        CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
        CAST(sum(x * x) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(x AS BIGINT) AS day_idx, y AS n_events,
      CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx) * 1000000) / 1000000.0
      END AS slope
    FROM win
    """,
)
def window_moving_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend slope of daily event volume (SURVEY.md
    §2.5/§2.6 window-family extension; the trend detector behind
    "volume is drifting down 3%/day"): every term of the closed-form
    slope (nΣxy − ΣxΣy)/(nΣxx − ΣxΣx) is an integer window sum, so
    the numerator/denominator columns are EXACT BIGINTs (signed — the
    one place the half-up ``div`` trick doesn't apply, hence the
    rational is exported exactly and the double is quantized through
    the same division on both engines). First row of each series has
    a zero denominator → NULL slope on both engines.

    Scale: one (type)-partitioned ordered window carrying five
    running sums — bounded state, single shuffle on the series key."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("x"),
    ).agg(F.count("*").alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-6, Window.currentRow)
    )
    win = daily.select(
        "event_type",
        "x",
        "y",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return win.select(
        "event_type",
        F.col("x").cast("bigint").alias("day_idx"),
        F.col("y").alias("n_events"),
        num.cast("bigint").alias("slope_num"),
        den.cast("bigint").alias("slope_den"),
        F.when(
            den != 0,
            F.round(num.cast("double") / den * 1000000, 0) / 1000000.0,
        ).alias("slope"),
    )


# ---------------------------------------------------------------------------
# Bloom false-positive-rate curve: measured fp vs filter size.
# ---------------------------------------------------------------------------

_FPP_SIZES = [512, 4096, 32768]


def _bloom_probe_branch_sql(m: int) -> str:
    return f"""
      SELECT {m} AS m_bits, {_BLOOM_K} AS k_hashes,
        count(*) AS n_probe,
        CAST(count(*) - sum(true_dup) AS BIGINT) AS n_true_neg,
        CAST(sum(CASE WHEN bloom_hit = 1 AND true_dup = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
        CAST((2 * 1000000 * sum(CASE WHEN bloom_hit = 1 AND true_dup = 0
                                THEN 1 ELSE 0 END)
              + (count(*) - sum(true_dup)))
             // (2 * (count(*) - sum(true_dup))) AS BIGINT) AS fp_micro
      FROM (
        SELECT p.doc_id,
          CAST(min(CASE WHEN sb.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
            AS bloom_hit,
          CAST(max(CASE WHEN sd.digest IS NULL THEN 0 ELSE 1 END) AS BIGINT)
            AS true_dup
        FROM (
          SELECT doc_id, digest, unnest(list_distinct(bits)) AS bit FROM (
            SELECT doc_id, md5(text) AS digest,
              {_bloom_bits_sql('text', m)} AS bits
            FROM corpus WHERE doc_id >= 100000
          )
        ) p
        LEFT JOIN (
          SELECT DISTINCT unnest(bits) AS bit FROM (
            SELECT {_bloom_bits_sql('text', m)} AS bits
            FROM corpus WHERE doc_id < 100000
          )
        ) sb USING (bit)
        LEFT JOIN (
          SELECT DISTINCT md5(text) AS digest FROM corpus
          WHERE doc_id < 100000
        ) sd ON sd.digest = p.digest
        GROUP BY p.doc_id, p.digest
      )
    """


@query(
    "sketch_bloom_fpp_curve",
    oracle=f"""
    WITH corpus0 AS ({_CORPUS_SQL}),
    corpus AS (SELECT * FROM corpus0 WHERE text IS NOT NULL)
    {' UNION ALL '.join(_bloom_probe_branch_sql(m) for m in _FPP_SIZES)}
    """,
)
def sketch_bloom_fpp_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom false-positive-rate curve — the capacity-planning sweep
    over filter size (§2 sketch-family eval, the measured counterpart
    of the m ≈ n·k/ln2 sizing rule): the same seen/probe split as
    ``bloom_filter_probe`` evaluated at m ∈ {{512, 4096, 32768}} bits,
    reporting measured fp rate per size. The knee of this curve is
    where a deployment sizes its dedup-on-ingest filter; an fp rate
    that does NOT fall as m grows would indict the bit derivation.

    Scale: the corpus is md5-hashed ONCE — the digest frame is pinned
    with localCheckpoint and each m derives its bit positions from the
    pinned digests (only the modulus differs), where the earlier
    spelling re-hashed the corpus three times per size (nine passes);
    the m-independent seen-digest set is built once and shared by all
    branches. Per size: one bit derivation + tiny broadcast bit sets;
    at real scale the sweep runs on a SAMPLE of the corpus — the fp
    estimate needs only enough probes for a stable rate."""
    corpus = _dedup_corpus(spark, sf_dir)
    # NULL text excluded explicitly — see bloom_filter_probe
    hashed0 = corpus.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5("text").alias("digest")
    ).transform(pin)
    seen0 = hashed0.filter(F.col("doc_id") < 100000)
    seen_digests = seen0.select("digest").distinct()
    branches = []
    for m in _FPP_SIZES:
        bits = F.array(
            *[
                (
                    F.conv(
                        F.substring(F.col("digest"), 1 + 8 * j, 8), 16, 10
                    ).cast("long")
                    % m
                )
                for j in range(_BLOOM_K)
            ]
        )
        seen_bits = (
            seen0.select(F.explode(bits).alias("bit")).distinct()
        )
        probe = hashed0.filter(F.col("doc_id") >= 100000).select(
            "doc_id",
            "digest",
            F.explode(F.array_distinct(bits)).alias("bit"),
        )
        per_doc = (
            probe.join(
                F.broadcast(seen_bits.select("bit", F.lit(1).alias("present"))),
                on="bit",
                how="left",
            )
            .join(
                F.broadcast(
                    seen_digests.select("digest", F.lit(1).alias("known"))
                ),
                on="digest",
                how="left",
            )
            .groupBy("doc_id", "digest")
            .agg(
                F.min(F.coalesce(F.col("present"), F.lit(0)))
                .cast("bigint")
                .alias("bloom_hit"),
                F.max(F.coalesce(F.col("known"), F.lit(0)))
                .cast("bigint")
                .alias("true_dup"),
            )
        )
        fp = F.sum(
            ((F.col("bloom_hit") == 1) & (F.col("true_dup") == 0)).cast("long")
        )
        branches.append(
            per_doc.agg(
                F.count("*").alias("n_probe"),
                (F.count("*") - F.sum("true_dup"))
                .cast("bigint")
                .alias("n_true_neg"),
                fp.cast("bigint").alias("n_false_pos"),
            )
            .select(
                F.lit(m).alias("m_bits"),
                F.lit(_BLOOM_K).alias("k_hashes"),
                "n_probe",
                "n_true_neg",
                "n_false_pos",
                F.expr(
                    "(2 * 1000000 * n_false_pos + n_true_neg)"
                    " div (2 * n_true_neg)"
                ).cast("bigint").alias("fp_micro"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


# ---------------------------------------------------------------------------
# Sequence-packing efficiency eval.
# ---------------------------------------------------------------------------

from wiki_data_pipeline_spark.plans.llm_ops import _PACK_BUDGET as _PACK_TARGET  # noqa: E402


@query(
    "pack_efficiency_eval",
    oracle=f"""
    WITH packed AS ({_PREG['pack_training_sequences'].oracle})
    SELECT lang,
      count(*) AS n_sequences,
      CAST(sum(total_tokens) AS BIGINT) AS n_tokens,
      CAST(min(total_tokens) AS BIGINT) AS min_fill,
      CAST((2 * 1000000 * sum(total_tokens)
            + count(*) * {_PACK_TARGET})
           // (2 * count(*) * {_PACK_TARGET}) AS BIGINT)
        AS utilization_micro,
      CAST(sum(CASE WHEN total_tokens > {_PACK_TARGET} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_overflow
    FROM packed GROUP BY lang
    """,
)
def pack_efficiency_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency eval (§2.6 batching-family eval,
    composed from the REGISTERED ``pack_training_sequences`` — the
    recall_eval pattern): per language, sequence counts, mean bin
    utilization vs the 512-token budget (exact half-up micro), the
    worst-filled bin, and an overflow invariant (n_overflow must be 0
    for any doc ≤ budget — a nonzero count means the packer's
    greedy-accumulate rule broke). Utilization is THE number that
    decides whether packing earns its shuffle: at <70% you switch to
    first-fit-decreasing or concat-and-split
    (``pack_sequences_concat``).

    Scale: rides the packing plan + a |langs|-row aggregate."""
    packed = _PREG["pack_training_sequences"].fn(spark, sf_dir)
    return (
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_sequences"),
            F.sum("total_tokens").cast("bigint").alias("n_tokens"),
            F.min("total_tokens").cast("bigint").alias("min_fill"),
            F.sum((F.col("total_tokens") > _PACK_TARGET).cast("long"))
            .cast("bigint")
            .alias("n_overflow"),
        )
        .select(
            "lang",
            "n_sequences",
            "n_tokens",
            "min_fill",
            F.expr(
                f"(2 * 1000000 * n_tokens + n_sequences * {_PACK_TARGET})"
                f" div (2 * n_sequences * {_PACK_TARGET})"
            ).cast("bigint").alias("utilization_micro"),
            "n_overflow",
        )
    )


# ---------------------------------------------------------------------------
# Decontamination apply: the cleaned corpus, reconciled.
# ---------------------------------------------------------------------------


@query(
    "contamination_apply_clean",
    oracle=f"""
    WITH flagged AS ({_PREG['contamination_ngram_overlap'].oracle}),
    contaminated AS (SELECT doc_id FROM flagged WHERE contaminated = 1)
    SELECT d.lang,
      count(*) AS n_docs,
      CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_kept,
      CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dropped,
      CAST((2 * 1000000 * sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            + count(*)) // (2 * count(*)) AS BIGINT) AS drop_frac_micro
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    GROUP BY d.lang
    """,
)
def contamination_apply_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY step (§2.3/F9 anti-join family, composed
    from the REGISTERED ``contamination_ngram_overlap`` flags): the
    per-language reconciliation of dropping benchmark-overlapping docs
    — kept/dropped counts and drop fractions, the audit row a training
    run records next to its data recipe. The actual clean corpus is
    the same anti-join minus the aggregate; this query IS the receipt.

    Scale: the flag set is contamination-rate-sized, i.e. a corpus
    FRACTION — it grows with the data, so the reconciliation join
    carries NO hard broadcast hint (r15, verdict item 1's audit: the
    same class as dedup_keep_best's components table). The planner's
    own stats broadcast it at fixture scale, where the flagged set is
    measurably tiny; at 100 TB it may legitimately choose the doc_id
    shuffle join instead of an unbounded build side. Then a
    |langs|-row aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    flagged = _PREG["contamination_ngram_overlap"].fn(spark, sf_dir)
    contaminated = flagged.filter(
        F.col("contaminated").cast("int") == 1
    ).select("doc_id")
    return (
        docs.join(
            contaminated.withColumn("hit", F.lit(1)),
            on="doc_id",
            how="left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("hit").isNull().cast("long"))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.col("hit").isNotNull().cast("long"))
            .cast("bigint")
            .alias("n_dropped"),
        )
        .withColumn(
            "drop_frac_micro",
            F.expr("(2 * 1000000 * n_dropped + n_docs) div (2 * n_docs)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery: per-group top-k without a window.
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — per-nation top-2 customers by
    balance expressed as a correlated inner query instead of a window
    (SURVEY.md §2.4/§2.6 SQL-surface extension; the form ANSI
    tooling generates and Spark 3.2+ decorrelates): Catalyst rewrites
    the LATERAL into a ranked join, so the declarative form pays the
    same single shuffle as the ``topk_per_nation`` window — this query
    pins that the decorrelation surface exists and agrees with the
    oracle bit-for-bit (deterministic (acctbal, custkey) order).

    Scale: after decorrelation this is one hash shuffle on nationkey
    with per-group limits pushed into the sort (WindowGroupLimit) —
    never a per-nation re-scan of customer."""
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Recursive CTE: hierarchy ancestry rollup (Spark 4 WITH RECURSIVE).
# ---------------------------------------------------------------------------


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE anc(doc_id, cur, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION ALL
      SELECT doc_id, cur // 2, depth + 1 FROM anc WHERE cur > 1
    )
    SELECT doc_id, CAST(max(depth) AS BIGINT) AS depth,
      CAST(min(cur) AS BIGINT) AS root_id,
      CAST(count(*) AS BIGINT) AS n_ancestors
    FROM anc GROUP BY doc_id
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE ancestry rollup (SURVEY.md §2.10 iterative
    surface, now DECLARATIVE — Spark 4 ships WITH RECURSIVE, so the
    hierarchy walks that ``dedup_cluster_components`` had to hand-roll
    as iterative DataFrame rounds can be written as SQL): each doc is
    placed in the implicit binary hierarchy parent = id div 2 (the
    stand-in for a category/BOM tree, which the fixture lacks) and the
    recursion walks to the root, emitting depth, root, and ancestor
    counts. The step is strictly decreasing (cur div 2 with a cur > 1
    guard), so UNION ALL recursion terminates — the cycle-safe UNION
    form is not yet in Spark (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE),
    which is exactly why the components query keeps its iterative
    min-label implementation; this query pins the surface that DOES
    exist.

    Scale: each recursion level is one self-join of the frontier —
    log₂(max id) rounds; the frontier shrinks as walks terminate."""
    docs = read_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_rec_documents")
    return spark.sql(
        """
        WITH RECURSIVE anc(doc_id, cur, depth) AS (
          SELECT doc_id, doc_id, 0 FROM _rec_documents
          UNION ALL
          SELECT doc_id, cur div 2, depth + 1 FROM anc WHERE cur > 1
        )
        SELECT doc_id, CAST(max(depth) AS BIGINT) AS depth,
          CAST(min(cur) AS BIGINT) AS root_id,
          CAST(count(*) AS BIGINT) AS n_ancestors
        FROM anc GROUP BY doc_id
        """
    )


# ---------------------------------------------------------------------------
# Cogrouped-map as-of alignment: purchases ↔ most recent view.
# ---------------------------------------------------------------------------


@query(
    "join_cogrouped_asof",
    oracle="""
    WITH v AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
    best AS (
      SELECT p.user_id, p.event_id AS purchase_id,
        max(struct_pack(ts := v.ts, event_id := v.event_id)) AS bv
      FROM p JOIN v ON v.user_id = p.user_id
        AND (v.ts < p.ts OR (v.ts = p.ts AND v.event_id <= p.event_id))
      GROUP BY p.user_id, p.event_id
    )
    SELECT b.user_id, b.purchase_id,
      CAST(b.bv.event_id AS BIGINT) AS view_id,
      CAST(epoch_us(p.ts) - epoch_us(b.bv.ts) AS BIGINT) AS lag_us
    FROM best b JOIN p ON p.user_id = b.user_id AND p.event_id = b.purchase_id
    """,
)
def join_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map as-of alignment (SURVEY.md §2.10 — the one Arrow
    UDF surface the engine had not yet exercised:
    ``groupBy().cogroup().applyInPandas``): per user, each purchase is
    aligned to its most recent preceding view with pandas
    ``merge_asof`` inside the cogrouped function — the two streams
    arrive as separate per-key pandas frames, Spark shuffles both
    sides ONCE on user_id and hands co-partitioned groups to Arrow.
    Lag is exported in exact epoch microseconds.

    Tie semantics (r13, adversarial finding): "most recent preceding"
    is LEXICOGRAPHIC on (ts, event_id) — at equal timestamps only
    views whose event_id precedes the purchase's are eligible (a
    same-instant view with a LARGER event_id arrived after the
    purchase in sequence order; point-in-time correctness excludes
    it). merge_asof on ts alone leaked exactly that future row once
    the adversarial fixture gained four same-instant events, so the
    asof now runs on a per-bucket lexicographic rank of (ts, event_id)
    built over the UNION of both sides (np.lexsort, r14) — backward
    match on that key IS the
    oracle's ``v.ts < p.ts OR (v.ts = p.ts AND v.event_id <=
    p.event_id)`` predicate, and the picked row is its
    ``max(struct(ts, event_id))``.

    Scale: one co-shuffle on the key, bounded per-group pandas work —
    the distributed form of the point-in-time-correct feature joins
    (``join_asof``'s composed-DataFrame twin, here as the UDF
    escape hatch for semantics built-ins can't express)."""
    events = read_table(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 32).alias("bucket")
    # r14 (caught by the driver-contract verify, present since r10):
    # the view side re-aliases every column to mint FRESH attribute
    # exprIds. Both cogroup children derive from the same events frame,
    # so without this they carry IDENTICAL attribute IDs — and under a
    # parent that prunes the cogroup output (e.g. count()), Spark's
    # column pruning attributes the shared IDs to the left child and
    # prunes the right child down to its grouping key alone: the
    # cogrouped function then receives v=['bucket'] and KeyErrors.
    # Distinct IDs make the right child's column demand visible to the
    # optimizer; noop/collect plans were unaffected (nothing pruned),
    # which is why parity never saw it.
    views = events.filter(F.col("event_type") == "view").select(
        bucket,
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        bucket, "user_id", "ts", "event_id"
    )

    # Cogroup on a HASH BUCKET of the key, not the key itself: per-user
    # groups are tiny (tens of rows) and each Arrow group boundary pays
    # fixed Python overhead, so thousands of micro-groups dominated the
    # wall clock (measured 10.6s -> ~1s at sf0.1). merge_asof(by=
    # "user_id") preserves exact per-user semantics inside each bucket;
    # the asof key is a dense (ts, event_id) rank so tied timestamps
    # resolve lexicographically (see docstring, r13).
    guard = worker_zip_guard()

    def _align(pdfs, vdfs):
        guard()
        import numpy as np
        import pandas as pd

        if pdfs.empty or vdfs.empty:
            return pd.DataFrame(
                columns=["user_id", "purchase_id", "view_id", "lag_us"]
            )
        # (ts, event_id) rank over the UNION of both sides: the asof
        # key that makes backward matching lexicographic — at tied
        # timestamps only smaller-event_id views precede (the oracle's
        # tie predicate); overflow-free (no ts*K+id packing). r14: ONE
        # np.lexsort over the union replaces the r13 pandas concat +
        # drop_duplicates + two hash merges (which tripled per-bucket
        # Python work and breached the 2× bench gate) AND
        # the two per-side sort_values — the union order contains each
        # side's sorted order, so both merge_asof inputs are carved
        # from the same sort. event_ids are unique across the events
        # table, so ranks need not be dense or deduplicated — any
        # strictly order-preserving map of the lexicographic order is
        # a valid merge_asof key (views are concatenated FIRST so even
        # a hypothetical exact (ts, event_id) collision would rank the
        # view before the purchase, matching the oracle's
        # `v.event_id <= p.event_id`).
        v_ts = vdfs["ts"].to_numpy()
        p_ts = pdfs["ts"].to_numpy()
        nv = len(v_ts)
        ts_all = np.concatenate([v_ts, p_ts])
        id_all = np.concatenate(
            [vdfs["event_id"].to_numpy(), pdfs["event_id"].to_numpy()]
        )
        order = np.lexsort((id_all, ts_all))
        seq = np.empty(len(order), dtype="int64")
        seq[order] = np.arange(len(order), dtype="int64")
        v_idx = order[order < nv]  # v rows in ascending-seq order
        p_idx = order[order >= nv] - nv
        v = pd.DataFrame(
            {
                "user_id": vdfs["user_id"].to_numpy()[v_idx],
                "v_ts": v_ts[v_idx],
                "view_id": id_all[:nv][v_idx],
                "seq": seq[:nv][v_idx],
            }
        )
        p = pd.DataFrame(
            {
                "user_id": pdfs["user_id"].to_numpy()[p_idx],
                "ts": p_ts[p_idx],
                "event_id": id_all[nv:][p_idx],
                "seq": seq[nv:][p_idx],
            }
        )
        merged = pd.merge_asof(
            p,
            v,
            on="seq",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        merged = merged.dropna(subset=["view_id"])
        out = pd.DataFrame(
            {
                "user_id": merged["user_id"].astype("int64"),
                "purchase_id": merged["event_id"].astype("int64"),
                "view_id": merged["view_id"].astype("int64"),
                "lag_us": (
                    merged["ts"].astype("int64")
                    - merged["v_ts"].astype("int64")
                ) // 1000,
            }
        )
        return out

    return (
        purchases.groupBy("bucket")
        .cogroup(views.groupBy("bucket"))
        .applyInPandas(
            _align,
            schema="user_id bigint, purchase_id bigint, view_id bigint,"
            " lag_us bigint",
        )
    )


# ---------------------------------------------------------------------------
# Range-frame window: event-time interval aggregation per key.
# ---------------------------------------------------------------------------


@query(
    "window_range_interval",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec, value FROM events
    )
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
      CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
      CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
        AS value_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window — per user, the trailing ONE-HOUR
    event-time aggregate at every event (SURVEY.md §2.6 window-family
    extension: a RANGE frame bounds by ORDER-BY VALUE distance, not
    row count — the semantics rows-frames like ``window_moving_value``
    cannot express when events are irregularly spaced). Ordering is
    epoch seconds — DuckDB's epoch_us // 1e6 floor matches Spark's
    cast-to-long truncation (epoch()::BIGINT would ROUND and shift
    frame boundaries); a
    RANGE frame's output is per-frame identical for ties, so the
    tie-safe sum uses the exact DECIMAL discipline and the result is
    deterministic without an id tie-break.

    Scale: one shuffle + sort per user partition; the frame is a
    sliding pointer pair over the sorted run (O(n) per key), state
    bounded by the hour's event count — the batch mirror of the
    streaming sliding window."""
    events = read_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("ts").cast("long").alias("sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("value_last_hour"),
    )


# ---------------------------------------------------------------------------
# PQ reconstruction-error eval.
# ---------------------------------------------------------------------------


@query(
    "ann_pq_reconstruction_eval",
    oracle=f"""
    WITH codes AS ({_PREG['ann_pq_codes'].oracle})
    SELECT CAST(subspace AS BIGINT) AS subspace,
      count(*) AS n_vectors,
      CAST(sum(CAST(round(sq_err * 1000000) AS BIGINT)) AS BIGINT)
        AS total_err_micro,
      CAST((2 * sum(CAST(round(sq_err * 1000000) AS BIGINT)) + count(*))
           // (2 * count(*)) AS BIGINT) AS mean_err_micro
    FROM codes WHERE isfinite(sq_err) GROUP BY subspace
    """,
)
def ann_pq_reconstruction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-error eval (§2 similarity-family eval,
    composed from the REGISTERED ``ann_pq_codes``): per-subspace total
    and mean quantization residual — the number that tunes m (more
    subspaces) vs k (bigger codebooks) before committing a 100 TB
    corpus to a code layout, and the drift alarm when embeddings shift
    under a frozen codebook. Residuals are micro-quantized through the
    same double (they are already 6-dp rounded upstream) and summed /
    averaged in exact BIGINT.

    Scale: rides the encode pass + an m-row aggregate."""
    codes = _PREG["ann_pq_codes"].fn(spark, sf_dir)
    # non-finite residuals (a garbage NaN/Inf vector's subspaces)
    # carry no tuning signal and would crash the ANSI micro-cast —
    # excluded by contract on both engines (codes itself keeps them
    # visible; this is the aggregate's gate)
    sq = F.col("sq_err")
    codes = codes.filter(
        ~F.isnan(sq) & (F.abs(sq) < F.lit(float("inf")))
    )
    return (
        codes.groupBy(F.col("subspace").cast("bigint").alias("subspace"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.round(F.col("sq_err") * 1000000, 0).cast("bigint"))
            .cast("bigint")
            .alias("total_err_micro"),
        )
        .withColumn(
            "mean_err_micro",
            F.expr("(2 * total_err_micro + n_vectors) div (2 * n_vectors)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Label purity of near-dup cosine blocks.
# ---------------------------------------------------------------------------


@query(
    "sim_label_purity",
    oracle=f"""
    WITH pairs AS ({_PREG['dedup_embedding_cosine'].oracle})
    SELECT
      count(*) AS n_pairs,
      CAST(sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) AS BIGINT)
        AS n_same_label,
      CAST((2 * 1000000 * sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
            + count(*)) // (2 * count(*)) AS BIGINT) AS purity_micro
    FROM pairs p
    JOIN embeddings a ON a.vec_id = p.vec_a
    JOIN embeddings b ON b.vec_id = p.vec_b
    """,
)
def sim_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the sign-LSH cosine near-dup blocks (§2
    similarity-family eval, composed from the REGISTERED
    ``dedup_embedding_cosine`` pairs): the fraction of candidate pairs
    whose members share a label — the external-validation number for
    an unsupervised blocking stage (high purity ⇒ blocks respect the
    label structure and semantic dedup won't merge across classes;
    purity ≈ label-prior ⇒ the embeddings carry no class signal, as
    ``sim_ann_recall_eval`` documents for this fixture's isotropic
    vectors — the eval exposes that honestly rather than hiding it).

    Scale: two point joins of the pair list against the label column
    + one O(1)-row aggregate; rides the dedup pass."""
    pairs = _PREG["dedup_embedding_cosine"].fn(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"))
    return (
        pairs.join(a, on="vec_a")
        .join(b, on="vec_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("la") == F.col("lb")).cast("long"))
            .cast("bigint")
            .alias("n_same_label"),
        )
        .withColumn(
            "purity_micro",
            F.expr("(2 * 1000000 * n_same_label + n_pairs) div (2 * n_pairs)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end quality gate: the composed keep/drop decision.
# ---------------------------------------------------------------------------


@query(
    "pipeline_quality_gate",
    oracle=f"""
    WITH gopher AS ({_PREG['quality_gopher_filters'].oracle}),
    rep AS ({_PREG['text_repetition_metrics'].oracle}),
    lin AS ({_PREG['quality_linear_score'].oracle})
    SELECT g.doc_id,
      CAST(g.passes AS BIGINT) AS gopher_pass,
      CAST(CASE WHEN r.distinct_token_ratio >= 0.3 THEN 1 ELSE 0 END
           AS BIGINT) AS repetition_pass,
      CAST(CASE WHEN l.bucket >= 3 THEN 1 ELSE 0 END AS BIGINT) AS score_pass,
      CAST(CASE WHEN g.passes = 1 AND r.distinct_token_ratio >= 0.3
                 AND l.bucket >= 3 THEN 1 ELSE 0 END AS BIGINT) AS keep,
      CAST(g.passes * 1
           + CASE WHEN r.distinct_token_ratio >= 0.3 THEN 2 ELSE 0 END
           + CASE WHEN l.bucket >= 3 THEN 4 ELSE 0 END AS BIGINT)
        AS reason_mask
    FROM gopher g
    JOIN rep r USING (doc_id)
    JOIN lin l USING (doc_id)
    """,
)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality gate — the composed keep/drop decision a
    cleaning pipeline actually applies (§2.3 filter-family
    composition, built from the REGISTERED Gopher rules, repetition
    metrics, and linear quality score so the gate always reflects the
    shipped filter definitions): per doc, each sub-filter's verdict,
    the conjunctive keep flag, and a reason bitmask (gopher=1,
    repetition=2, score=4) — the provenance column that lets a
    curator audit WHY a document fell out, and re-admit a class of
    drops without re-running anything.

    Scale: three already-audited map-heavy scoring passes joined on
    doc_id; each sub-filter is its own column so the gate is one
    conjunctive filter pushed wherever the corpus is scanned next.
    The float threshold compares (ratio ≥ 0.3) operate on doubles
    both engines derive from identical integer divisions — safe."""
    g = _PREG["quality_gopher_filters"].fn(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("gopher_pass")
    )
    r = _PREG["text_repetition_metrics"].fn(spark, sf_dir).select(
        "doc_id",
        (F.col("distinct_token_ratio") >= 0.3)
        .cast("bigint")
        .alias("repetition_pass"),
    )
    lin = _PREG["quality_linear_score"].fn(spark, sf_dir).select(
        "doc_id", (F.col("bucket") >= 3).cast("bigint").alias("score_pass")
    )
    return (
        g.join(r, on="doc_id")
        .join(lin, on="doc_id")
        .select(
            "doc_id",
            "gopher_pass",
            "repetition_pass",
            "score_pass",
            (
                (F.col("gopher_pass") == 1)
                & (F.col("repetition_pass") == 1)
                & (F.col("score_pass") == 1)
            )
            .cast("bigint")
            .alias("keep"),
            (
                F.col("gopher_pass") * 1
                + F.col("repetition_pass") * 2
                + F.col("score_pass") * 4
            )
            .cast("bigint")
            .alias("reason_mask"),
        )
    )


# ---------------------------------------------------------------------------
# Watermark-lateness profile: how late do events actually arrive?
# ---------------------------------------------------------------------------


@query(
    "streaming_lateness_profile",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts, event_id,
        event_id + CASE WHEN event_id % 10 = 0 THEN 500 ELSE 0 END AS arr_seq
      FROM events
    ),
    arr AS (
      SELECT event_type, ts,
        max(ts) OVER (PARTITION BY event_type ORDER BY arr_seq, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM seq
    ),
    lat AS (
      SELECT event_type,
        CASE WHEN hwm IS NULL OR ts >= hwm THEN 'on_time'
          WHEN epoch_us(hwm) - epoch_us(ts) < 60000000 THEN 'late_lt_1m'
          WHEN epoch_us(hwm) - epoch_us(ts) < 600000000 THEN 'late_lt_10m'
          WHEN epoch_us(hwm) - epoch_us(ts) < 3600000000 THEN 'late_lt_1h'
          ELSE 'late_ge_1h' END AS bucket
      FROM arr
    )
    SELECT event_type, bucket, count(*) AS n_events
    FROM lat GROUP BY event_type, bucket
    """,
)
def streaming_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness profile (§2.9 streaming-family planning
    query): the fixture's ingest order IS its event-time order, so a
    deterministic delayed-arrival perturbation (every 10th event
    arrives 500 positions late) models the out-of-order ingest a
    watermark exists for; each event's lateness
    is how far its event-time sits behind the per-type high-water mark
    of everything that arrived before it — bucketed into the delay
    bands a watermark policy chooses between. This table IS the
    evidence for `withWatermark("ts", X)`: the mass in `late_ge_1h`
    is exactly what a 1-hour watermark would drop (the
    `test_watermark_drops_late_rows_across_restarts` semantics,
    quantified before deployment instead of discovered after).

    Scale: one per-type ordered window for the running max (arrival
    order is a monotone id — the same sort the ingest already has),
    one schema-sized aggregate. Lateness math in exact epoch
    microseconds."""
    events = read_table(spark, sf_dir, "events").withColumn(
        "arr_seq",
        F.col("event_id")
        + F.when(F.col("event_id") % 10 == 0, 500).otherwise(0),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arr_seq", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("ts").over(w)
    late_us = F.unix_micros(hwm) - F.unix_micros(F.col("ts"))
    bucket = (
        F.when(hwm.isNull() | (F.col("ts") >= hwm), "on_time")
        .when(late_us < 60_000_000, "late_lt_1m")
        .when(late_us < 600_000_000, "late_lt_10m")
        .when(late_us < 3_600_000_000, "late_lt_1h")
        .otherwise("late_ge_1h")
    )
    return (
        events.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users: the growth curve.
# ---------------------------------------------------------------------------


@query(
    "window_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
      CAST(n_new AS BIGINT) AS n_new_users,
      CAST(sum(n_new) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_cumulative_users
    FROM daily
    """,
)
def window_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative distinct users by day — the growth curve (§2.5/§2.6
    extension; the CUMULATIVE cousin of the rolling-window WAU
    queries). Running distinct is not a decomposable aggregate, but
    first-touch attribution makes it one: min(first day) per user, new
    users per day, then a running SUM — turning an O(days·users)
    distinct into one user-keyed aggregate plus a |days|-row window.

    Scale: the user-keyed min is the only real shuffle; the cumulative
    window runs over #days rows. The same first-touch trick is how
    `retention_cohorts` anchors its cohorts — shared lineage in a real
    pipeline."""
    events = read_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts")).cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("bigint").alias("n_new_users"),
        F.sum("n_new").over(w).cast("bigint").alias("n_cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage: per-doc OOV rate against a top-K vocab.
# ---------------------------------------------------------------------------

_VOCAB_K = 100


@query(
    "text_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rnk
        FROM tok GROUP BY t
      ) WHERE rnk <= {_VOCAB_K}
    )
    SELECT tok.doc_id,
      count(*) AS n_tokens,
      CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_oov,
      CAST((2 * 1000000 * sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
            + count(*)) // (2 * count(*)) AS BIGINT) AS oov_frac_micro
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY tok.doc_id
    """,
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage — per-doc out-of-vocabulary rate
    against the corpus top-{_VOCAB_K} token vocabulary (§2.8
    text-family extension; the fertility/coverage check run before
    committing a tokenizer: high OOV docs either get dropped or argue
    for a bigger vocab, and a coverage drift over time means the
    corpus moved under a frozen tokenizer — the text twin of
    ``ann_pq_reconstruction_eval``'s codebook-drift alarm).
    Deterministic vocab cut: rank by (count DESC, token) — total
    order, no sampling.

    Scale: one token-keyed count aggregate for the vocab (vocab-sized
    output), broadcast of the K-row vocab back over the token stream,
    one doc-keyed aggregate. The vocab table is exactly what
    ``bpe_pair_counts`` would grow into merges."""
    docs = read_table(spark, sf_dir, "documents")
    tok = _spread(docs).select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), on="t", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_frac_micro",
            F.expr("(2 * 1000000 * n_oov + n_tokens) div (2 * n_tokens)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# LSH S-curve design table: P(candidate | similarity) in exact fixed-point.
# ---------------------------------------------------------------------------

from wiki_data_pipeline_spark.plans.llm_ops import (  # noqa: E402
    _BAND_SIZE,
    _N_HASHES,
)

_LSH_BANDS = _N_HASHES // _BAND_SIZE


@query(
    "dedup_lsh_scurve",
    oracle=f"""
    WITH grid AS (
      SELECT unnest(generate_series(1, 19)) * 50000 AS s_micro
    ),
    pband AS (
      SELECT s_micro,
        (2 * s_micro * s_micro + 1000000) // 2000000 AS p_band_micro
      FROM grid
    ),
    q1 AS (SELECT *, 1000000 - p_band_micro AS q FROM pband),
    q2 AS (SELECT *, (2 * q * q + 1000000) // 2000000 AS qq FROM q1),
    q4 AS (SELECT *, (2 * qq * qq + 1000000) // 2000000 AS qqqq FROM q2)
    SELECT CAST(s_micro AS BIGINT) AS s_micro,
      CAST(p_band_micro AS BIGINT) AS p_band_micro,
      CAST(1000000 - qqqq AS BIGINT) AS p_candidate_micro
    FROM q4
    """,
)
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve design table (§2.3 dedup-family planning; the
    analytic companion to ``dedup_minhash_calibration``'s measured
    errors): for Jaccard similarity s on a 0.05 grid, the band-match
    probability s^r and the candidate probability 1-(1-s^r)^b for the
    engine's actual banding (r={_BAND_SIZE}, b={_LSH_BANDS}). This
    curve is how banding parameters are CHOSEN — the s where
    p_candidate crosses ~0.5 is the effective dedup threshold, and
    the low-s tail is the expected false-candidate load. Every step is
    exact half-up fixed-point in micro units (squarings and
    complements in pure BIGINT), so the table is bitwise identical
    across engines — no pow(), no floats.

    Scale: 19 rows of integer arithmetic — the point is the shared
    DETERMINISTIC spec both the planner and the docs can cite."""
    grid = spark.range(1, 20).select((F.col("id") * 50000).alias("s_micro"))
    sq = lambda c: F.expr(f"(2 * {c} * {c} + 1000000) div 2000000")  # noqa: E731
    return (
        grid.withColumn("p_band_micro", sq("s_micro"))
        .withColumn("q", F.lit(1000000) - F.col("p_band_micro"))
        .withColumn("qq", sq("q"))
        .withColumn("qqqq", sq("qq"))
        .select(
            F.col("s_micro").cast("bigint").alias("s_micro"),
            F.col("p_band_micro").cast("bigint").alias("p_band_micro"),
            (F.lit(1000000) - F.col("qqqq")).cast("bigint").alias(
                "p_candidate_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Forward as-of join: each event aligned to the NEXT click.
# ---------------------------------------------------------------------------


@query(
    "join_asof_forward",
    oracle="""
    WITH r AS (SELECT user_id, ts, value AS click_value FROM events
               WHERE event_type = 'click'),
         l AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type <> 'click')
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%dT%H:%M:%S') AS event_ts,
      r.click_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each non-click event aligned to the next
    upcoming click (§2.4 extension; the direction ``join_asof``'s
    backward formulation cannot express, and the shape of
    time-to-next-conversion features). ``operators/joins.py
    asof_join`` mirrored: left rows sort BEFORE right rows at equal ts
    (so `l.ts <= r.ts` ties match, DuckDB forward-ASOF semantics), and
    `first(value, ignorenulls)` over the FOLLOWING window picks the
    nearest upcoming click — one shuffle on user_id, no range probe.
    Boundary/tie behavior cross-engine fuzzed in
    tests/test_join_fuzz.py.

    Scale: identical to the backward twin — partitioned window,
    salting story for skewed keys."""
    from wiki_data_pipeline_spark.operators.joins import asof_join

    events = read_table(spark, sf_dir, "events")
    right = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    left = events.filter(F.col("event_type") != "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        left, right, on="user_id", ts="ts", value_col="click_value",
        direction="forward",
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("event_ts"),
        "click_value",
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: heavy-hitter estimates with the overestimate bound.
# ---------------------------------------------------------------------------

_CMS_D = 3      # hash rows
_CMS_W = 1024   # buckets per row


def _cms_bucket_sql(expr: str, row: int) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR) || '#{row}'), 1, 8))"
        f"::BIGINT % {_CMS_W}"
    )


@query(
    "sketch_count_min_heavy_hitters",
    oracle=f"""
    WITH truth AS (
      SELECT user_id, count(*) AS true_count FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, true_count FROM (
        SELECT *, row_number() OVER (ORDER BY true_count DESC, user_id) AS rn
        FROM truth
      ) WHERE rn <= 20
    ),
    cms AS (
      {' UNION ALL '.join(
        f"SELECT {r} AS row_id, {_cms_bucket_sql('user_id', r)} AS bucket,"
        f" count(*) AS cnt FROM events GROUP BY 1, 2"
        for r in range(_CMS_D))}
    ),
    est AS (
      SELECT t.user_id, t.true_count,
        min(c.cnt) AS est_count
      FROM top t
      JOIN cms c ON (
        {' OR '.join(
          f"(c.row_id = {r} AND c.bucket = {_cms_bucket_sql('t.user_id', r)})"
          for r in range(_CMS_D))})
      GROUP BY t.user_id, t.true_count
    )
    SELECT user_id, CAST(true_count AS BIGINT) AS true_count,
      CAST(est_count AS BIGINT) AS est_count,
      CAST(est_count - true_count AS BIGINT) AS overestimate
    FROM est
    """,
)
def sketch_count_min_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Min sketch heavy-hitter estimation (Cormode &
    Muthukrishnan 2005; §2 sketch-family extension alongside the HLL
    and GK queries): a d={_CMS_D} × w={_CMS_W} counter matrix built in
    ONE aggregation pass (md5-salted buckets — fully deterministic
    integers, so unlike HLL the sketch itself hash-matches DuckDB),
    then the top-20 true heavy hitters are estimated by the min over
    their d buckets. ``overestimate`` carries CMS's one-sided
    guarantee — est ≥ true ALWAYS (the unit test pins it), with the
    excess bounded by collision mass ≈ N·d/w.

    Scale: the sketch is d·w integers regardless of key cardinality —
    THE mergeable shape for distributed heavy-hitter monitoring
    (per-partition sketches sum elementwise; the same monoid argument
    as the HLL rollup). The truth join here is the eval harness, not
    the serving path."""
    events = read_table(spark, sf_dir, "events")

    def bucket(expr, r):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(expr.cast("string"), F.lit(f"#{r}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    cms = None
    for r in range(_CMS_D):
        branch = events.groupBy(
            F.lit(r).alias("row_id"),
            bucket(F.col("user_id"), r).alias("bucket"),
        ).agg(F.count("*").alias("cnt"))
        cms = branch if cms is None else cms.unionAll(branch)
    truth = events.groupBy("user_id").agg(F.count("*").alias("true_count"))
    w = Window.orderBy(F.desc("true_count"), F.asc("user_id"))
    top = (
        truth.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    probes = None
    for r in range(_CMS_D):
        b = top.select(
            "user_id",
            "true_count",
            F.lit(r).alias("row_id"),
            bucket(F.col("user_id"), r).alias("bucket"),
        )
        probes = b if probes is None else probes.unionAll(b)
    return (
        probes.join(F.broadcast(cms), on=["row_id", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
        .select(
            "user_id",
            F.col("true_count").cast("bigint").alias("true_count"),
            "est_count",
            (F.col("est_count") - F.col("true_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


@query(
    "sketch_cms_join_cardinality",
    oracle=f"""
    WITH truth AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS true_card
      FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)
    ),
    cms AS (
      {' UNION ALL '.join(
        f"SELECT {r} AS row_id, {_cms_bucket_sql('l_partkey', r)} AS bucket,"
        f" count(*) AS cnt FROM lineitem GROUP BY 1, 2"
        for r in range(_CMS_D))}
    ),
    est AS (
      SELECT CAST(min(s) AS BIGINT) AS est_card
      FROM (SELECT row_id, sum(cnt * cnt) AS s FROM cms GROUP BY row_id)
    )
    SELECT t.true_card, e.est_card,
      CAST(e.est_card - t.true_card AS BIGINT) AS overestimate
    FROM truth t CROSS JOIN est e
    """,
)
def sketch_cms_join_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation by CMS inner product (Cormode &
    Muthukrishnan 2005 §4.2; §2 sketch-family extension): the size of
    lineitem ⋈ lineitem on l_partkey — the F2 frequency moment
    Σ f(k)² — estimated as min over the d sketch rows of
    Σ_b cnt[b]², without materializing the join. THIS is the number a
    planner needs before committing to a shuffle: the r9 shuffle audit
    measures blow-ups after the fact, the sketch predicts them from
    one aggregation pass. Same md5-salted deterministic buckets as
    sketch_count_min_heavy_hitters, so the estimate itself
    hash-matches DuckDB; the inner-product guarantee is one-sided
    (est ≥ true always — colliding keys only ADD cross terms, pinned
    by the unit test) with expected excess ≤ N²/w per row.

    Scale: the sketch is d·w counters whatever the key cardinality,
    built by one bounded-key aggregation over the fact table
    (map-side combine onto ≤ d·w cells per partition); the truth
    branch here is the eval harness, not the serving path — a real
    planner keeps only the d·w-integer sketch."""
    li = read_table(spark, sf_dir, "lineitem")

    def bucket(expr, r):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(expr.cast("string"), F.lit(f"#{r}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    cms = None
    for r in range(_CMS_D):
        branch = li.groupBy(
            F.lit(r).alias("row_id"),
            bucket(F.col("l_partkey"), r).alias("bucket"),
        ).agg(F.count("*").alias("cnt"))
        cms = branch if cms is None else cms.unionAll(branch)
    est = (
        cms.groupBy("row_id")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("s"))
        .agg(F.min("s").cast("bigint").alias("est_card"))
    )
    truth = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("true_card"))
    )
    return truth.crossJoin(F.broadcast(est)).select(
        "true_card",
        "est_card",
        (F.col("est_card") - F.col("true_card"))
        .cast("bigint")
        .alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles.
# ---------------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT v.user_id, v.v_ts, min(e.ts) AS p_ts
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase'
        AND e.ts > v.v_ts
      GROUP BY v.user_id, v.v_ts
    ),
    lag AS (
      SELECT epoch_us(p_ts) - epoch_us(v_ts) AS ttc_us FROM p
    )
    SELECT
      count(*) AS n_converted,
      CAST(quantile_disc(ttc_us, 0.5) AS BIGINT) AS p50_us,
      CAST(quantile_disc(ttc_us, 0.9) AS BIGINT) AS p90_us,
      CAST(min(ttc_us) AS BIGINT) AS min_us,
      CAST(max(ttc_us) AS BIGINT) AS max_us
    FROM lag
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert distribution (§2.5 extension; the
    latency view of ``funnel_view_click_purchase``'s counts): for
    every user whose first view leads to a later purchase, the
    view→purchase lag in exact epoch microseconds, summarized by
    discrete percentiles (actual data values — the
    agg_value_percentiles cross-engine discipline). p50/p90 here are
    what attribution windows and re-marketing delays get tuned
    against.

    Scale: two user-keyed min-aggregates + one per-user join — the
    funnel's own plan, plus an exact percentile over the converted
    subset (swap GK + rank-check beyond sortable sizes)."""
    events = read_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        v.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts"
            ),
            on="user_id",
        )
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(F.min("ts").alias("p_ts"))
    )
    lag = p.select(
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("ttc_us")
    )
    lag.createOrReplaceTempView("_ttc_lag")
    return lag.sparkSession.sql(
        """
        SELECT
          count(*) AS n_converted,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ttc_us) AS BIGINT)
            AS p50_us,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY ttc_us) AS BIGINT)
            AS p90_us,
          CAST(min(ttc_us) AS BIGINT) AS min_us,
          CAST(max(ttc_us) AS BIGINT) AS max_us
        FROM _ttc_lag
        """
    )


# ---------------------------------------------------------------------------
# Dedup-method agreement matrix.
# ---------------------------------------------------------------------------


@query(
    "dedup_family_agreement",
    oracle=f"""
    WITH lsh AS ({_PREG['dedup_minhash_lsh'].oracle}),
    jac AS ({_PREG['dedup_ngram_jaccard'].oracle}),
    cont AS ({_PREG['dedup_ngram_containment'].oracle}),
    l AS (SELECT doc_a, doc_b FROM lsh),
    j AS (SELECT doc_a, doc_b FROM jac),
    c AS (SELECT doc_a, doc_b FROM cont),
    pairs AS (
      SELECT 'lsh_vs_jaccard' AS methods,
        (SELECT count(*) FROM l JOIN j USING (doc_a, doc_b)) AS n_both,
        (SELECT count(*) FROM l) AS n_a, (SELECT count(*) FROM j) AS n_b
      UNION ALL
      SELECT 'lsh_vs_containment',
        (SELECT count(*) FROM l JOIN c USING (doc_a, doc_b)),
        (SELECT count(*) FROM l), (SELECT count(*) FROM c)
      UNION ALL
      SELECT 'jaccard_vs_containment',
        (SELECT count(*) FROM j JOIN c USING (doc_a, doc_b)),
        (SELECT count(*) FROM j), (SELECT count(*) FROM c)
    )
    SELECT methods, CAST(n_both AS BIGINT) AS n_both,
      CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      CAST((2 * 1000000 * n_both + (n_a + n_b - n_both))
           // (2 * (n_a + n_b - n_both)) AS BIGINT) AS agreement_micro
    FROM pairs
    """,
)
def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement matrix (§2.3 dedup-family eval; the
    pairwise complement to ``dedup_impact_report``'s volumes): Jaccard
    agreement between the pair-sets of each method pair — LSH vs exact
    n-gram Jaccard vs asymmetric containment, all composed from the
    REGISTERED definitions. High LSH↔Jaccard agreement validates the
    banding recall; the containment deltas are specifically the
    short-in-long copies the symmetric measures miss — if THAT
    agreement is high too, the expensive containment pass is
    redundant on this corpus.

    Scale: each method pipeline executes ONCE — a 3-way full-outer
    membership join on (doc_a, doc_b) (pair-sized inputs), then one
    1-row aggregate carrying every set and intersection count,
    unpivoted with stack(). The old per-combo union re-entered each
    method pipeline ~3× (the pruned count branches canonicalize
    differently from the join branches, so AQE stage reuse cannot
    collapse them — round-6 plan-audit finding). r16 (guide §2.4 /
    VERDICT item 5): the Jaccard and containment arms are BOTH thin
    projections over the same `pairwise_shingle_overlap` frame on the
    same bounded corpus subset — the r15 plan ran the shingle
    inverted-index join (scan → explode → self-join → sizes) twice,
    once per score (54 parquet scans = 18 corpus subtrees). The
    overlap frame is now
    built ONCE and pinned (pair-sized — the same class as the
    components pin); both scores project from the checkpoint. The
    projected pair sets are expression-identical to the registered
    `dedup_ngram_jaccard` / `dedup_ngram_containment` results (shared
    operators/dedup.py projections)."""
    from wiki_data_pipeline_spark.operators.dedup import (
        containment_from_overlap,
        jaccard_from_overlap,
        pairwise_shingle_overlap,
    )
    from wiki_data_pipeline_spark.plans.llm_ops import (
        _CONTAINMENT_THRESHOLD,
        _dedup_corpus,
        _JACCARD_MAX_DOC,
        _JACCARD_THRESHOLD,
    )

    bounded = _dedup_corpus(spark, sf_dir).filter(
        F.col("doc_id") % 100000 < _JACCARD_MAX_DOC
    )
    ov = pairwise_shingle_overlap(bounded).transform(pin)

    def _flag(pairs: DataFrame, col: str) -> DataFrame:
        return (
            pairs.select("doc_a", "doc_b")
            .withColumn(col, F.lit(1).cast("long"))
        )

    member = (
        _flag(_PREG["dedup_minhash_lsh"].fn(spark, sf_dir), "in_l")
        .join(
            _flag(jaccard_from_overlap(ov, _JACCARD_THRESHOLD), "in_j"),
            on=["doc_a", "doc_b"],
            how="full",
        )
        .join(
            _flag(
                containment_from_overlap(ov, _CONTAINMENT_THRESHOLD), "in_c"
            ),
            on=["doc_a", "doc_b"],
            how="full",
        )
        .select(
            F.coalesce("in_l", F.lit(0)).alias("l"),
            F.coalesce("in_j", F.lit(0)).alias("j"),
            F.coalesce("in_c", F.lit(0)).alias("c"),
        )
    )
    one = member.agg(
        F.sum("l").alias("n_l"),
        F.sum("j").alias("n_j"),
        F.sum("c").alias("n_c"),
        F.sum(F.col("l") * F.col("j")).alias("n_lj"),
        F.sum(F.col("l") * F.col("c")).alias("n_lc"),
        F.sum(F.col("j") * F.col("c")).alias("n_jc"),
    )
    return one.select(
        F.expr(
            "stack(3, 'lsh_vs_jaccard', n_lj, n_l, n_j,"
            " 'lsh_vs_containment', n_lc, n_l, n_c,"
            " 'jaccard_vs_containment', n_jc, n_j, n_c)"
            " as (methods, n_both, n_a, n_b)"
        )
    ).select(
        "methods",
        F.col("n_both").cast("bigint").alias("n_both"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr(
            "(2 * 1000000 * n_both + (n_a + n_b - n_both))"
            " div (2 * (n_a + n_b - n_both))"
        ).cast("bigint").alias("agreement_micro"),
    )


# ---------------------------------------------------------------------------
# Order-backlog aging report.
# ---------------------------------------------------------------------------


@query(
    "orders_backlog_aging",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS as_of FROM orders),
    open_orders AS (
      SELECT o.o_orderpriority,
        date_diff('day', o.o_orderdate, m.as_of) AS age_days,
        o.o_totalprice
      FROM orders o CROSS JOIN mx m
      WHERE o.o_orderstatus = 'O'
    )
    SELECT o_orderpriority,
      CASE WHEN age_days < 30 THEN 'lt_30d'
        WHEN age_days < 90 THEN 'lt_90d'
        WHEN age_days < 365 THEN 'lt_1y'
        ELSE 'ge_1y' END AS age_bucket,
      count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        AS backlog_value
    FROM open_orders
    GROUP BY 1, 2
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging (SURVEY.md §2.5 reporting extension;
    the ops-review table behind TPC-H's order-status narratives): open
    orders bucketed by age against the latest order date, with
    priority breakdown and decimal-exact backlog value per cell —
    the receivables/fulfillment-risk view. Age buckets are integer
    day arithmetic; values use the standard exact-DECIMAL sum.

    Scale: one scan with the status filter pushed down, an O(1)
    as-of scalar broadcast, one schema-sized aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    from wiki_data_pipeline_spark.plans.star_schema import dsum

    mx = orders.agg(F.max("o_orderdate").alias("as_of"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(mx))
        .select(
            "o_orderpriority",
            F.datediff(F.col("as_of"), F.col("o_orderdate")).alias("age_days"),
            "o_totalprice",
        )
    )
    bucket = (
        F.when(F.col("age_days") < 30, "lt_30d")
        .when(F.col("age_days") < 90, "lt_90d")
        .when(F.col("age_days") < 365, "lt_1y")
        .otherwise("ge_1y")
    )
    return (
        open_orders.groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "backlog_value"),
        )
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide metric columns → long (metric, value) rows.
# ---------------------------------------------------------------------------


@query(
    "agg_unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT event_type,
        count(*) AS n_events,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(max(event_id) AS BIGINT) AS max_event_id
      FROM events GROUP BY event_type
    )
    SELECT event_type, metric, CAST(value AS BIGINT) AS value
    FROM wide
    UNPIVOT (value FOR metric IN (n_events, n_users, max_event_id))
    """,
)
def agg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (SURVEY.md §2.5's inverse-of-pivot surface,
    completing the reshape pair with ``agg_pivot_event_types``): a
    wide per-type metrics row melts into long (metric, value) rows —
    the shape metric stores, alerting rules, and generic dashboards
    ingest. Spark's native ``unpivot`` (= SQL stack()) is a map-only
    Expand over the aggregate output; no shuffle beyond the
    aggregation itself.

    Scale: the melt multiplies only the aggregate's schema-sized
    output (|types| × |metrics| rows), never the input."""
    events = read_table(spark, sf_dir, "events")
    wide = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["n_events", "n_users", "max_event_id"],
        variableColumnName="metric",
        valueColumnName="value",
    ).select("event_type", "metric", F.col("value").cast("bigint").alias("value"))


# ---------------------------------------------------------------------------
# SimHash Hamming-distance histogram over LSH candidate pairs.
# ---------------------------------------------------------------------------


@query(
    "dedup_simhash_hamming_histogram",
    oracle=f"""
    WITH {_MINHASH_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.sig = b.sig
        AND a.doc_id < b.doc_id
    ),
    sh64 AS ({_PREG['dedup_simhash'].oracle})
    SELECT CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
        AS hamming_distance,
      count(*) AS n_pairs
    FROM pairs p
    JOIN sh64 sa ON sa.doc_id = p.doc_a
    JOIN sh64 sb ON sb.doc_id = p.doc_b
    GROUP BY 1
    """,
)
def dedup_simhash_hamming_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash Hamming-distance histogram over the MinHash-LSH
    candidate pairs (§2.3 dedup-family eval — the threshold-tuning
    view for the OTHER signature family: where
    ``dedup_minhash_calibration`` calibrates Jaccard estimates, this
    shows how the 32-bit SimHash separates the SAME candidate
    population). A bimodal histogram (near-0 for true dups, ~16 for
    unrelated) is what justifies a Hamming cut-off k; mass in the
    valley is exactly the gray zone an exact-verify stage must
    arbitrate. Composed from the REGISTERED simhash and LSH
    definitions; distance = bit_count(xor) — pure integer, identical
    both engines.

    Scale: the candidate pairs are materialized once (localCheckpoint
    — pair-sized, tiny vs the corpus) and their participant set is
    pushed BELOW the SimHash tokenize/aggregate as a semi-filter, so
    signatures are computed only for docs that appear in a pair (the
    inner joins discard all others anyway — identical result,
    corpus-sized tokenize/hash work saved). The filter join carries NO
    broadcast hint (r15, verdict item 1's audit): the participant set
    is dup-rate-sized — a corpus FRACTION that grows with the data —
    so a hard hint would force an unbounded build side at 100 TB; the
    planner's own stats still pick broadcast at fixture scale where
    it is measurably tiny, and are free to flip to the shuffle join
    once it is not.
    Then two point joins of the candidate list against the
    participant-only signature table + a ≤33-row aggregate."""
    from wiki_data_pipeline_spark.plans.llm_ops import (
        _dedup_corpus,
        _simhash_from,
    )

    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    participants = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh64 = _simhash_from(
        _dedup_corpus(spark, sf_dir).join(participants, "doc_id")
    )
    sa = sh64.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sh64.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .groupBy(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("hamming_distance")
        )
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Skew salting plan: per-key salt factors from heavy-hitter evidence.
# ---------------------------------------------------------------------------

_SALT_TARGET_ROWS = 60  # rows per (key, salt) slice the plan aims for


@query(
    "skew_salting_plan",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ),
    hot AS (
      SELECT user_id, n_rows,
        CAST((n_rows + {_SALT_TARGET_ROWS} - 1) // {_SALT_TARGET_ROWS}
             AS BIGINT) AS salt_factor
      FROM per_key WHERE n_rows > {_SALT_TARGET_ROWS}
    )
    SELECT user_id, n_rows, salt_factor,
      CAST((2 * n_rows + salt_factor) // (2 * salt_factor) AS BIGINT)
        AS rows_per_slice
    FROM hot
    """,
)
def skew_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew SALTING PLAN (SURVEY.md §2.4 join-family scale tooling) —
    the actionable output connecting the skew
    diagnostics (``skew_heavy_hitters``, ``skew_gini_coefficient``) to
    the salted executions (``skew_salted_join`` / ``_distinct``):
    every key whose row count exceeds the per-slice target gets an
    explicit salt factor ceil(n/target) and its resulting
    rows-per-slice — exactly the table a salted join broadcasts to
    explode the dimension side and to modulate the fact-side salt.
    Ceil via the integer identity (n + t - 1) div t; slice size by
    exact half-up division.

    Scale: one key-count aggregate + a hot-key filter — the plan table
    is heavy-hitter-sized (tiny) and broadcastable by construction;
    recomputed per batch, it adapts the salting to drift without
    config changes."""
    events = read_table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    hot = per_key.filter(F.col("n_rows") > _SALT_TARGET_ROWS).withColumn(
        "salt_factor",
        F.expr(
            f"(n_rows + {_SALT_TARGET_ROWS} - 1) div {_SALT_TARGET_ROWS}"
        ).cast("bigint"),
    )
    return hot.select(
        "user_id",
        "n_rows",
        "salt_factor",
        F.expr("(2 * n_rows + salt_factor) div (2 * salt_factor)")
        .cast("bigint")
        .alias("rows_per_slice"),
    )


# ---------------------------------------------------------------------------
# Session statistics: duration / size distribution of user sessions.
# ---------------------------------------------------------------------------


@query(
    "sessionize_session_stats",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               > INTERVAL 30 MINUTE
        THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq,
        ts
      FROM g
    ),
    iv AS (
      SELECT user_id, session_seq, count(*) AS n_events,
        epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM sess GROUP BY user_id, session_seq
    )
    SELECT
      count(*) AS n_sessions,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      CAST(quantile_disc(n_events, 0.5) AS BIGINT) AS p50_events,
      CAST(quantile_disc(dur_us, 0.5) AS BIGINT) AS p50_dur_us,
      CAST(quantile_disc(dur_us, 0.9) AS BIGINT) AS p90_dur_us,
      CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bounce_sessions
    FROM iv
    """,
)
def sessionize_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level statistics over the 30-minute-gap sessionization
    (§2.9 — the summary layer above ``sessionize_events`` /
    ``join_interval_overlap``'s intervals): session counts, median
    session size, p50/p90 duration in exact epoch microseconds
    (percentile_disc discipline), and single-event "bounce" sessions —
    the engagement dashboard row. Same gap rule, same tie-breaks, so
    the stats describe exactly the sessions the other queries emit.

    Scale: rides the one user-sorted window the sessionize family
    shares, then a session-keyed aggregate and a global percentile
    over session rows (≪ events; GK swap documented beyond that)."""
    from wiki_data_pipeline_spark.operators.sessions import with_session_seq

    events = read_table(spark, sf_dir, "events")
    sess = with_session_seq(events.select("user_id", "ts", "event_id"))
    iv = sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "dur_us"
        ),
    )
    iv.createOrReplaceTempView("_sess_stats_iv")
    return iv.sparkSession.sql(
        """
        SELECT
          count(*) AS n_sessions,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)
               AS BIGINT) AS p50_events,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dur_us)
               AS BIGINT) AS p50_dur_us,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dur_us)
               AS BIGINT) AS p90_dur_us,
          CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bounce_sessions
        FROM _sess_stats_iv
        """
    )


# ---------------------------------------------------------------------------
# Pipeline yield report: docs/tokens surviving each cleaning stage.
# ---------------------------------------------------------------------------


@query(
    "pipeline_yield_report",
    oracle=f"""
    WITH gate AS ({_PREG['pipeline_quality_gate'].oracle}),
    flagged AS ({_PREG['contamination_ngram_overlap'].oracle}),
    toks AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    staged AS (
      SELECT t.doc_id, t.n_tok,
        g.keep AS pass_gate,
        CASE WHEN g.keep = 1 AND coalesce(f.contaminated, 0) = 0
          THEN 1 ELSE 0 END AS pass_decontam
      FROM toks t
      JOIN gate g USING (doc_id)
      LEFT JOIN flagged f USING (doc_id)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS d0,
        CAST(sum(n_tok) AS BIGINT) AS t0 FROM staged
    )
    SELECT stage, n_docs, n_tokens,
      CAST((2 * 1000000 * n_docs + d0) // (2 * d0) AS BIGINT)
        AS doc_retention_micro,
      CAST((2 * 1000000 * n_tokens + t0) // (2 * t0) AS BIGINT)
        AS token_retention_micro
    FROM (
      SELECT 'raw' AS stage, d0 AS n_docs, t0 AS n_tokens, d0, t0
      FROM tot
      UNION ALL
      SELECT 'quality_gate',
        CAST(sum(pass_gate) AS BIGINT),
        CAST(sum(pass_gate * n_tok) AS BIGINT), any_value(tot.d0),
        any_value(tot.t0)
      FROM staged CROSS JOIN tot
      UNION ALL
      SELECT 'decontaminated',
        CAST(sum(pass_decontam) AS BIGINT),
        CAST(sum(pass_decontam * n_tok) AS BIGINT), any_value(tot.d0),
        any_value(tot.t0)
      FROM staged CROSS JOIN tot
    )
    """,
)
def pipeline_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline YIELD report — the data-recipe receipt every training
    run records (§2 composition capstone, built from the REGISTERED
    quality gate and decontamination flags): documents and tokens
    surviving each cleaning stage (raw → quality gate →
    decontaminated), with exact micro retention fractions against the
    raw corpus. This one table answers "how much data did the recipe
    keep and where did it go" — the first question every dataset
    review asks, reconciled against the exact same filter definitions
    the pipeline ships.

    Scale: one token-count pass joined to the two already-audited flag
    tables, ONE 1-row aggregate carrying every stage counter, unpivoted
    with stack(). The stage list extends by composition (dedup
    survivors, language cuts) without touching the report shape."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    gate = _PREG["pipeline_quality_gate"].fn(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("pass_gate")
    )
    flagged = _PREG["contamination_ngram_overlap"].fn(spark, sf_dir).select(
        "doc_id", F.col("contaminated").cast("int").alias("contaminated")
    )
    staged = (
        toks.join(gate, on="doc_id")
        .join(flagged, on="doc_id", how="left")
        .select(
            "n_tok",
            "pass_gate",
            (
                (F.col("pass_gate") == 1)
                & (F.coalesce(F.col("contaminated"), F.lit(0)) == 0)
            )
            .cast("bigint")
            .alias("pass_decontam"),
        )
    )
    # ALL stage rows from ONE pass over `staged`: the old three-branch
    # union re-executed the gate + decontamination subtrees once per
    # stage row (the plan showed 24 document scans — round-6 plan-audit
    # finding). One 1-row aggregate carries every counter; stack()
    # unpivots it into the three stage rows.
    one = staged.agg(
        F.count("*").cast("bigint").alias("d0"),
        F.sum("n_tok").cast("bigint").alias("t0"),
        F.sum("pass_gate").cast("bigint").alias("g_docs"),
        F.sum(F.col("pass_gate") * F.col("n_tok"))
        .cast("bigint")
        .alias("g_toks"),
        F.sum("pass_decontam").cast("bigint").alias("c_docs"),
        F.sum(F.col("pass_decontam") * F.col("n_tok"))
        .cast("bigint")
        .alias("c_toks"),
    )
    return (
        one.select(
            F.expr(
                "stack(3, 'raw', d0, t0,"
                " 'quality_gate', g_docs, g_toks,"
                " 'decontaminated', c_docs, c_toks)"
                " as (stage, n_docs, n_tokens)"
            ),
            "d0",
            "t0",
        )
        .select(
            "stage",
            "n_docs",
            "n_tokens",
            F.expr("(2 * 1000000 * n_docs + d0) div (2 * d0)")
            .cast("bigint")
            .alias("doc_retention_micro"),
            F.expr("(2 * 1000000 * n_tokens + t0) div (2 * t0)")
            .cast("bigint")
            .alias("token_retention_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Segment-blocked Hamming near-duplicate join over fixed-length titles.
# ---------------------------------------------------------------------------

_TITLE_LEN = 24
_TITLE_SEGS = 3
_TITLE_MAX_HAMMING = 2  # pigeonhole: <= SEGS - 1


@query(
    "dedup_title_hamming",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(substr(text, 1, {_TITLE_LEN})) AS title
      FROM documents
      WHERE length(text) >= {_TITLE_LEN}
    ),
    segs AS (
      SELECT doc_id, title, i AS seg_i,
        substr(title, (i - 1) * {_TITLE_LEN // _TITLE_SEGS} + 1,
               {_TITLE_LEN // _TITLE_SEGS}) AS seg
      FROM t, generate_series(1, {_TITLE_SEGS}) AS g(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.title AS title_a, b.title AS title_b
      FROM segs a
      JOIN segs b ON a.seg_i = b.seg_i AND a.seg = b.seg
        AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
        CAST((SELECT sum(CASE WHEN substr(title_a, i, 1)
                                   = substr(title_b, i, 1)
                          THEN 0 ELSE 1 END)
              FROM generate_series(1, {_TITLE_LEN}) s(i)) AS BIGINT)
          AS hamming
      FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM scored
    WHERE hamming <= {_TITLE_MAX_HAMMING}
    """,
)
def dedup_title_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate record-linkage join on a fixed-length title key
    (reference dedup-on-insert lineage, src/state_manager.py:52-60,
    generalized from exact-id to approximate-text matching): document
    pairs whose lowercased {_TITLE_LEN}-char prefix differs in at most
    {_TITLE_MAX_HAMMING} character positions.

    Scale design — EXACT blocking by pigeonhole, never all-pairs: the
    title is cut into {_TITLE_SEGS} equal segments; Hamming distance
    <= {_TITLE_MAX_HAMMING} forces at least one segment to match
    exactly (= {_TITLE_MAX_HAMMING} + 1 segments, <= {_TITLE_MAX_HAMMING}
    mismatching positions), so the candidate set is the self-join on
    (segment index, segment bytes) — a bounded-key shuffle join, with
    the cheap O(title_len) exact Hamming verify running on candidates
    only (the LSH -> exact-verify two-stage shape of
    dedup_minhash_verified, here with a recall GUARANTEE instead of a
    probability). At sf0.01 the blocking emits ~550 candidates versus
    124,750 all-pairs (228x).

    Hot-block hazard, MITIGATED TWO WAYS: a segment shared by a large
    fraction of the corpus (boilerplate title prefixes) makes its
    bucket quadratic. (1) TOTAL-WORK fix, built in here (r10, after
    the widened sf1 gate read exponent 1.86 on the flat join):
    HIERARCHICAL pigeonhole — blocks above {_TITLE_HOT_BLOCK_CAP} rows
    are re-blocked on sub-segments of the COMPLEMENT chars (the 16
    chars outside the matched segment, split {_TITLE_MAX_HAMMING} + 1
    ways): a true pair's mismatches all live in the complement, so by
    the same pigeonhole at least one sub-segment matches exactly —
    recall stays GUARANTEED, candidates stay a strict subset of the
    flat join's, output is bit-identical (the oracle doesn't change).
    A boilerplate prefix block fragments by its complement chars
    instead of going n². (2) STRAGGLER fix, the planned-salted twin
    :func:`dedup_title_hamming_salted` (operators/skew.py machinery),
    which bounds per-task slice size without changing total work —
    the right tool when blocks are moderately hot but sub-blocks
    wouldn't fragment.
    """
    cand = _title_candidates_tiered(
        title_segments(read_table(spark, sf_dir, "documents"))
    )
    return _title_hamming_verify(cand)


def title_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, title, seg_i, bk) — one row per (document, segment)
    with the pigeonhole block key ``bk = seg_index || ':' ||
    seg_bytes``. Shared by the plain (tiered) and planned-salted
    title-Hamming joins, and the frame the skew machinery plans over;
    ``seg_i`` feeds the hot-block complement refinement."""
    seg_len = _TITLE_LEN // _TITLE_SEGS
    docs = docs.filter(F.length("text") >= _TITLE_LEN).select(
        "doc_id",
        F.lower(F.substring("text", 1, _TITLE_LEN)).alias("title"),
    )
    return docs.select(
        "doc_id",
        "title",
        F.posexplode(
            F.array(
                *[
                    F.substring("title", i * seg_len + 1, seg_len)
                    for i in range(_TITLE_SEGS)
                ]
            )
        ).alias("seg_i", "seg"),
    ).select(
        "doc_id",
        "title",
        "seg_i",
        F.concat_ws(":", F.col("seg_i").cast("string"), "seg").alias("bk"),
    )


def _title_pair_join(segs: DataFrame, key: str) -> DataFrame:
    """Candidate self-join of a (doc_id, title, <key>) frame on equal
    block key, canonical doc_a < doc_b orientation. Explicit
    shuffle-hash: both sides scale with the corpus, so a fixture-SF
    broadcast would be stats luck that flips strategy at scale; block
    keys are size-bounded (cap / sub-fragmentation), so a per-partition
    hash build never outgrows memory. Both sides alias ONE frame whose
    projection is identical before the exchange, so the two shuffles
    canonicalize equal and ReusedExchange computes the segment
    derivation once (r10: the aliased-after spelling rebuilt it per
    side)."""
    keyed = segs.select("doc_id", "title", key)
    a = keyed.alias("a")
    b = keyed.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.title").alias("title_a"),
            F.col("b.title").alias("title_b"),
        )
    )


# Flat-join block cap; bigger blocks refine on complement sub-keys.
# r11: 256 -> 128 — the r11 gated sf1 run read the plain query at
# exponent 1.16 with the 65..256 band carrying ~30% of the x10 corpus:
# a band block's n² candidate work grows with the corpus until it
# crosses the cap, so the band is the one structurally-superlinear
# regime left. Halving the cap sends it through the refinement
# (fragmentation cuts candidates to true-near-dup sub-blocks; recall
# stays GUARANTEED by the double pigeonhole, output bit-identical).
_TITLE_HOT_BLOCK_CAP = 128


def _title_complement() -> Column:
    """The title chars OUTSIDE this row's matched segment (seg_i), as
    one concatenated string — every mismatching position of a
    candidate pair found via seg_i lives in here."""
    seg_len = _TITLE_LEN // _TITLE_SEGS
    comp = None
    for s in range(_TITLE_SEGS):
        pieces = [
            F.substring("title", t * seg_len + 1, seg_len)
            for t in range(_TITLE_SEGS)
            if t != s
        ]
        expr = F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        comp = (
            F.when(F.col("seg_i") == s, expr)
            if comp is None
            else comp.when(F.col("seg_i") == s, expr)
        )
    return comp


def _title_sub_keys() -> Column:
    """Second-level pigeonhole keys: the complement split into
    MAX_HAMMING + 1 near-equal pieces. A pair with <= MAX_HAMMING
    total mismatches that matched segment seg_i exactly has all its
    mismatches in the complement, so at least one piece matches
    exactly — recall is guaranteed at this level too."""
    seg_len = _TITLE_LEN // _TITLE_SEGS
    comp_len = _TITLE_LEN - seg_len
    n_sub = _TITLE_MAX_HAMMING + 1
    comp = _title_complement()
    subs, off = [], 1
    for j in range(n_sub):
        ln = comp_len // n_sub + (1 if j < comp_len % n_sub else 0)
        subs.append(F.substring(comp, off, ln))
        off += ln
    return F.array(*subs)


def _title_candidates_tiered(
    segs: DataFrame, cap: int = _TITLE_HOT_BLOCK_CAP
) -> DataFrame:
    """Hierarchical pigeonhole candidate generation: blocks of at most
    ``cap`` rows pair flat (n <= cap keeps n² per block bounded by
    cap·n total); hotter blocks re-block on (bk, sub-piece index,
    complement sub-piece) so a boilerplate segment value fragments by
    the chars that still have to agree. The tiered candidate set is a
    SUBSET of the flat join's (refinement only prunes) and a SUPERSET
    of the true pairs (double pigeonhole), so post-verify output is
    bit-identical — the shared DuckDB oracle stays the flat spelling.

    The block-size attach is an explicit shuffle-hash join (one row
    per key on the build side — strategy stable from fixture SF to
    x10, never a stats-luck broadcast).

    r11: BOTH tiers run through ONE self-join via per-row conditional
    key fan-out (:func:`_title_unified_frame`) — each sized row
    explodes a CASE-selected key array, tag-prefixed so a hot sub-key
    can never collide with a cold block key. One join stage instead of
    two cuts the fixture-SF fixed cost ~20%, the sized subtree appears
    exactly once, and there is no Union for the optimizer to push
    through; pair semantics are unchanged (equal tag+key means same
    tier, same block key), so the output — and the flat-spelling
    oracle — stay bit-identical."""
    sized, _ = _title_sized(segs)
    return _title_pair_join(_title_unified_frame(sized, cap), "k").distinct()


def _title_unified_frame(
    sized: DataFrame, cap: int, small_cut: int | None = None
) -> DataFrame:
    """(doc_id, title, k) — the tag-disambiguated unified blocking
    frame, built by exploding a per-row CASE-selected key array
    (r11b, replacing the two-branch union: a union of two projections
    of the same subtree shares expression ids across Union children,
    which trips a Catalyst PushPredicateThroughNonJoin assertion on
    LocalRelation inputs in Spark 4.1 — the fan-out spelling has no
    Union to push through, and the sized subtree appears exactly once):

    - block <= ``small_cut`` (defaults to ``cap``): one element,
      'c' + bk — the flat tier;
    - block > ``cap``: the complement sub-keys, 'h' + bk + i + sub —
      the refined tier;
    - in between (only when ``small_cut`` < ``cap``, the salted
      twin's mid tier): EMPTY array — explode drops the row, the
      caller routes that band through the planned-salted join.
    """
    # \x1f (unit separator) between key parts: prevents ambiguity
    # between e.g. (bk='a', i=12, sub='x') and (bk='a1', i=2, sub='x')
    # — a collision would only add candidates (verify recomputes true
    # Hamming so output is safe either way), but clean keys keep
    # buckets honest
    sub_keys = F.transform(
        _title_sub_keys(),
        lambda s, i: F.concat_ws(
            "\x1f", F.lit("h"), F.col("bk"), i.cast("string"), s
        ),
    )
    cut = cap if small_cut is None else small_cut
    keys = (
        F.when(
            F.col("blk_n") <= cut,
            F.array(F.concat(F.lit("c"), F.col("bk"))),
        )
        .when(F.col("blk_n") > cap, sub_keys)
        .otherwise(F.array().cast("array<string>"))
    )
    return sized.select("doc_id", "title", F.explode(keys).alias("k"))


def _title_sized(segs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Attach each segment row's block size: ``(sized, counts)`` where
    ``sized`` = segs + ``blk_n`` (explicit shuffle-hash attach — one
    row per key on the build side, strategy stable from fixture SF to
    x10) and ``counts`` is the per-key aggregate itself, exposed so
    callers can derive salt plans from it WITHOUT a second aggregation
    pass over the segment frame (r11: the twin's plan now reuses this
    exact subtree, so its broadcast costs no extra segs scan)."""
    counts = segs.groupBy("bk").agg(F.count(F.lit(1)).alias("blk_n"))
    return segs.join(counts.hint("shuffle_hash"), "bk"), counts


def _title_hamming_verify(cand: DataFrame) -> DataFrame:
    hamming = F.expr(
        f"size(filter(sequence(1, {_TITLE_LEN}),"
        " i -> substring(title_a, i, 1) != substring(title_b, i, 1)))"
    ).cast("bigint")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= _TITLE_MAX_HAMMING
    )


_TITLE_BLOCK_TARGET = 64  # per-slice row target for the salting plan


def _salted_pair_join(
    frame: DataFrame,
    key: str,
    target_rows: int,
    plan: DataFrame | None = None,
) -> DataFrame:
    """Planned-salted candidate self-join on ``key``: ``plan_salts``
    sizes every hot key (ceil(n/target) slices, heavy-hitter-sized
    broadcast plan); ``salted_join_planned`` salts the left side per
    row (doc id hash) and replicates the right side per planned slice,
    so a block of n rows runs as ceil(n/target) tasks of ~target·n
    comparisons instead of one n² task. Cold keys pay zero
    replication. Row-identical to the plain self-join by construction
    (each candidate pair materializes in exactly one salt slice)."""
    from wiki_data_pipeline_spark.operators.skew import (
        plan_salts,
        salted_join_planned,
    )

    # caller may pass a plan built from a CHEAPER superset frame
    # (factors must match for every key present in `frame`; extra plan
    # keys are inert — the broadcast left-join just never matches them)
    plan = plan_salts(frame, key, target_rows) if plan is None else plan
    a = frame.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        key,
    )
    b = frame.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        key,
    )
    return (
        salted_join_planned(a, b, on=key, fact_row_key="doc_a", plan=plan)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "title_a", "title_b")
    )


def dedup_title_hamming_salted_frame(
    docs: DataFrame, target_rows: int = _TITLE_BLOCK_TARGET
) -> DataFrame:
    """The planned-salted form of the title-Hamming candidate join,
    reusable over any (doc_id, text) frame (the skew-fixture test runs
    it on a synthesized 30%-hot-segment corpus).

    r11 composition (salting only the RESIDUAL blocks — the r10 shape
    salted the ENTIRE cold tier via a plan built by a second groupBy
    over the raw segment frame, so ~2/3 of the corpus paid the salted
    join's dual-side consumption and the idle-box x10 probe read the
    twin at 1.4x the plain query with its exponent at the 1.1 flag
    line):

    - SMALL blocks (n <= target_rows) and HOT blocks (n > cap, after
      complement sub-key refinement) share ONE tag-unified plain pair
      join — exactly the plain query's r11 spelling, so the twin's
      non-salted work is structurally identical to
      :func:`dedup_title_hamming`'s;
    - MID blocks (target_rows < n <= cap): the straggler tier —
      ``salted_join_planned`` slices each block into ceil(n/target)
      tasks. The plan is derived from the SAME ``counts`` aggregate
      the tier split already computes (no extra pass over segs);
      membership is whole-block, so each candidate pair materializes
      in exactly one tier and the union stays duplicate-consistent
      with the plain spelling.

    A refined hot key that is STILL hot escalates by another
    pigeonhole level, not task slicing (salting the already-fragmented
    tier measured as pure overhead). All layers are row-invisible, so
    the output stays bit-identical to the plain query and the shared
    oracle hash-checks the composition."""
    segs = title_segments(docs)
    sized, counts = _title_sized(segs)
    # small + hot via the plain query's conditional-fan-out spelling
    # (mid rows get an empty key array there and drop out of the
    # unified join — they travel the salted join below instead)
    unified = _title_unified_frame(
        sized, _TITLE_HOT_BLOCK_CAP, small_cut=target_rows
    )
    mid = sized.filter(
        (F.col("blk_n") > target_rows)
        & (F.col("blk_n") <= _TITLE_HOT_BLOCK_CAP)
    )
    # the plan_salts shape (key, n_rows, salt_factor), built from the
    # tier split's own counts aggregate: residual keys only
    plan = (
        counts.filter(
            (F.col("blk_n") > target_rows)
            & (F.col("blk_n") <= _TITLE_HOT_BLOCK_CAP)
        )
        .select(
            "bk",
            F.col("blk_n").alias("n_rows"),
            F.expr(
                f"(blk_n + {target_rows} - 1) div {target_rows}"
            ).cast("int").alias("salt_factor"),
        )
    )
    cand = (
        _title_pair_join(unified, "k")
        .unionAll(_salted_pair_join(mid, "bk", target_rows, plan=plan))
        .distinct()
    )
    return _title_hamming_verify(cand)


@query(
    "dedup_title_hamming_salted",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(substr(text, 1, {_TITLE_LEN})) AS title
      FROM documents
      WHERE length(text) >= {_TITLE_LEN}
    ),
    segs AS (
      SELECT doc_id, title, i AS seg_i,
        substr(title, (i - 1) * {_TITLE_LEN // _TITLE_SEGS} + 1,
               {_TITLE_LEN // _TITLE_SEGS}) AS seg
      FROM t, generate_series(1, {_TITLE_SEGS}) AS g(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.title AS title_a, b.title AS title_b
      FROM segs a
      JOIN segs b ON a.seg_i = b.seg_i AND a.seg = b.seg
        AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
        CAST((SELECT sum(CASE WHEN substr(title_a, i, 1)
                                   = substr(title_b, i, 1)
                          THEN 0 ELSE 1 END)
              FROM generate_series(1, {_TITLE_LEN}) s(i)) AS BIGINT)
          AS hamming
      FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM scored
    WHERE hamming <= {_TITLE_MAX_HAMMING}
    """,
)
def dedup_title_hamming_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_title_hamming` with the stop-segment skew hazard
    MITIGATED via the operators/skew.py decision machinery (the r9
    verdict's documented-but-unwired gap): mid-sized blocks run
    through the ``salted_join_planned`` execution, so a boilerplate
    prefix shared by a big slice of the corpus spreads across
    ceil(n/{_TITLE_BLOCK_TARGET}) planned slices instead of melting
    one reducer (small blocks join plain, truly hot blocks refine by
    complement sub-keys — see
    :func:`dedup_title_hamming_salted_frame`). The oracle is
    IDENTICAL to the plain query — salting must be row-invisible, and
    the driver hash-checks that; the bounded max-block probe lives in
    tests/test_skew_validation.py."""
    return dedup_title_hamming_salted_frame(
        read_table(spark, sf_dir, "documents")
    )
