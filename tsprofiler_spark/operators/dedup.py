"""Deduplication operators for large-scale training-data pipelines.

Four strategies over the `documents` table, all pure DataFrame expressions
(JVM-side, no Python in the data path):

* exact       — md5(text) hash-groupBy; the cheapest pass, always first.
* minhash+LSH — word-shingle MinHash signatures banded into LSH buckets;
                candidate pairs come from bucket joins only (never the
                full O(n²) cross join) — this is the 100 TB path.
* simhash     — 32-bit sign-aggregated token-hash fingerprint; near-dups
                differ in few bits.
* n-gram Jaccard — exact shingle-set similarity on candidate pairs; the
                verifier stage after LSH (here exposed standalone via a
                shingle-join for oracle comparability at test scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.functions.hashing import h32, h32_py, h60
from tsprofiler_spark.functions.shingles import word_shingles
from tsprofiler_spark.functions.spread import spread


def _word_shingles_multi(text_col, n: int = 3):
    """Word n-gram shingles as an array column, duplicates kept (size - n
    + 1 shingles; empty array for texts shorter than n words)."""
    return word_shingles(text_col, n)


def _word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles (set semantics for Jaccard)."""
    return F.array_distinct(_word_shingles_multi(text_col, n))


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: one keeper (min doc_id) per md5(text)."""
    return documents.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_spread = spread  # shared helper: see functions/spread.py


def doc_shingles(documents: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) stream. ``distinct=True`` (set semantics) is what
    Jaccard set sizes need; min-aggregations (MinHash) are multiset-
    invariant and pass False to skip the per-doc array_distinct sort."""
    col = _word_shingles(F.col("text"), n) if distinct else _word_shingles_multi(
        F.col("text"), n
    )
    return _spread(documents).select("doc_id", F.explode(col).alias("shingle"))


MERSENNE_P61 = (1 << 61) - 1  # universal-hash modulus (Mersenne prime)


def uhash_consts(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the universal hash family
    ``h_j(x) = (a_j * x + b_j) mod (2^61 - 1)`` — drawn from md5 (the
    repo's cross-engine h32) of fixed seeds, so Spark literals and oracle
    SQL share one source of truth. a_j in [1, 2^31) (the overflow-free
    multiplier range for 60-bit inputs, see uhash_sql), b_j in [0, p)."""
    hi = h32_py
    return [
        (
            1 + hi(f"minhash-a:{j}") % ((1 << 31) - 1),
            (hi(f"minhash-b:{j}") * (1 << 29) + hi(f"minhash-b2:{j}")) % MERSENNE_P61,
        )
        for j in range(k)
    ]


def uhash_sql(a, b, h: str = "h") -> str:
    """``(a * h + b) mod (2^61 - 1)`` for a 60-bit h, as one SQL expression
    valid VERBATIM in both Spark SQL and DuckDB (fully parenthesized, no
    engine-specific literal suffixes; ``a``/``b`` may be int literals or
    column names).

    Overflow-free BIGINT evaluation via the Mersenne fold 2^61 ≡ 1 (mod p):
    with h = hi*2^31 + lo and t = a*hi (< 2^60),
    a*h = t*2^31 + a*lo ≡ (t >> 30) + ((t mod 2^30) << 31) + a*lo (mod p),
    every term < 2^62 and the sum < 2^63. Verified exactly equal to the
    big-integer affine map in tests (test_pipeline_ops)."""
    t = f"({a} * ({h} >> 31))"
    term = f"(({t} >> 30) + (({t} & 1073741823) << 31) + {a} * ({h} & 2147483647))"
    return f"((({term} % {MERSENNE_P61}) + {b}) % {MERSENNE_P61})"


def minhash_signatures(documents: DataFrame, k: int = 12, n: int = 3) -> DataFrame:
    """k MinHash values per doc via ONE content hash per shingle plus a
    universal-hash family: minhash_j = min over shingles of
    ``(a_j * h60(shingle) + b_j) mod (2^61 - 1)``.

    Shuffle/CPU profile: one explode + ONE groupBy(doc_id) carrying k
    partial mins (map-side combine) — the corpus is hashed ONCE per
    shingle (not k times: the classic k-independent-md5 formulation costs
    k× the hashing AND k× the pre-combine rows; at 100 TB that factor is
    most of the job), and no (shingle × j) row explosion ever exists. The
    (doc_id, j, minhash) long form is a post-aggregation stack of k
    columns — k×fewer shuffled rows.
    """
    mins = _minhash_wide(documents, k, n)
    stack_args = ", ".join(f"{j}, m{j}" for j in range(k))
    return mins.select(
        "doc_id", F.expr(f"stack({k}, {stack_args})").alias("j", "minhash")
    )


def _minhash_wide(documents: DataFrame, k: int = 12, n: int = 3) -> DataFrame:
    """(doc_id, m0..m{k-1}) — the one-groupBy wide form the long signature
    and the band projection both derive from."""
    sh = doc_shingles(documents, n, distinct=False)
    # 60-bit base hash: shingle identity must be much wider than 32 bits —
    # a base-hash collision aliases two shingles in EVERY h_j at once
    # (correlated across the whole signature), and 2^32 birthday space
    # yields millions of such pairs at corpus scale; 2^60 leaves ~none.
    hashed = sh.select("doc_id", h60(F.col("shingle")).alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.expr(uhash_sql(a, b))).alias(f"m{j}")
            for j, (a, b) in enumerate(uhash_consts(k))
        ]
    )


def lsh_bands(signatures: DataFrame, rows_per_band: int = 3) -> DataFrame:
    """Band the signature: band_id = j / r, band_hash = joined minhashes.
    Docs sharing (band_id, band_hash) are LSH candidates."""
    with_band = signatures.withColumn(
        "band_id", (F.col("j") / rows_per_band).cast("int")
    )
    return with_band.groupBy("doc_id", "band_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "minhash"))),
                lambda x: x.minhash.cast("string"),
            ),
        ).alias("band_hash")
    )


def minhash_candidates(documents: DataFrame, k: int = 12, rows_per_band: int = 3) -> DataFrame:
    """Candidate near-dup pairs from LSH bucket joins (a < b).

    Bands project straight off the wide signature (band_hash = the band's
    min-columns joined in j order — identical to lsh_bands' output), so the
    whole candidate path is ONE groupBy + one bucket self-join; the long
    (doc_id, j) stack and its re-aggregation never materialize.
    """
    mins = _minhash_wide(documents, k)
    n_bands = -(-k // rows_per_band)  # ceil: trailing partial band kept
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col(f"m{j}").cast("string")
                                for j in range(
                                    b * rows_per_band,
                                    min(k, (b + 1) * rows_per_band),
                                )
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    left = bands.alias("a")
    right = bands.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per bit, sign-sum of token-hash bits.

    Shuffle profile: ONE groupBy(doc_id) carrying ``bits`` partial sign
    sums (map-side combine): s_b = SUM(bit_b(h) ? +1 : -1) as plain SUM
    aggregates — fully inside whole-stage codegen. The two rejected
    formulations both lose at 100 TB: exploding token × bit shuffles
    ``bits``× the rows, and collect_list + a per-element array fold leaves
    codegen for interpreted lambda evaluation (token_count × bits lambda
    calls — measured ~3× the whole job). Exact integers, so the
    fingerprint is engine-reproducible.
    """
    tokens = _spread(documents).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    hashed = tokens.select("doc_id", h32(F.col("token")).alias("h"))
    agg = hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END")).alias(
                f"s{b}"
            )
            for b in range(bits)
        ]
    )
    fingerprint = F.expr(
        " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(bits))
    )
    return agg.select("doc_id", fingerprint.alias("simhash"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over shingle joins: |A∩B| / |A∪B| >= threshold.

    Intended as the LSH verifier; standalone it joins on shared shingles,
    so cost is bounded by true overlap, not n². Jaccard is emitted in
    integer micro-units for cross-engine hash parity.

    ``max_df``: document-frequency cap for the standalone path. A single
    hot shingle shared by m documents makes its join key emit m² candidate
    rows — boilerplate/stop-shingles go quadratic at corpus scale. Shingles
    with df > max_df are dropped from the JOIN side only (the standard
    stop-shingle cut); sizes (|A|, |B|) still count every shingle, so the
    reported Jaccard only ever *under*-counts overlap for affected pairs.
    ``None`` (default) keeps exact semantics — matching the oracle at test
    scale; production sets a cap (e.g. 1000).
    """
    sh = doc_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(F.broadcast(df_counts.where(F.col("_df") > max_df)), "shingle", "left_anti")
        )
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    joined = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
    )
    return joined.where(F.col("jaccard") >= threshold).select(
        "doc_a",
        "doc_b",
        "common",
        "na",
        "nb",
        F.floor(F.col("jaccard") * 1000000 + F.lit(0.5)).cast("long").alias("jaccard_u"),
    )


def verify_candidates(
    documents: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — the stage a real
    dedup pipeline runs between `minhash_candidates` and keeper resolution.

    Cost is proportional to |candidates| × shingles-per-doc, never all
    pairs and never all shared-shingle pairs: the shingle table is
    semi-joined down to candidate docs first, then intersections are
    counted only on (shingle ⋈ shingle) rows that land inside a candidate
    pair. At LSH's operating point candidates are a vanishing fraction of
    the corpus, so both joins are small; the hot-shingle quadratic blowup
    of the standalone shingle self-join (`ngram_jaccard_pairs`) cannot
    happen because the pair set is fixed up front.

    Emits (doc_a, doc_b, common, na, nb, jaccard_u, is_dup) for EVERY
    candidate — the false positives LSH banding admits are exactly the rows
    with is_dup = 0, which makes banding precision directly queryable.
    """
    sh = doc_shingles(documents, n)
    docs_in_pairs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = sh.join(F.broadcast(docs_in_pairs), "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        F.broadcast(pairs.alias("p"))
        .join(a, F.col("a.doc_id") == F.col("p.doc_a"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("p.doc_b"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    joined = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"common": 0})
        .join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"),
            "doc_a",
            "left",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"),
            "doc_b",
            "left",
        )
        # a doc shorter than n words contributes no shingle rows, so its
        # size is absent from `sizes` — keep the pair (the EVERY-candidate
        # contract) with size 0 and a defined jaccard of 0 instead of the
        # inner-join silently dropping it
        .na.fill({"na": 0, "nb": 0})
        .withColumn(
            "jaccard",
            F.when(
                (F.col("na") + F.col("nb") - F.col("common")) > 0,
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return joined.select(
        "doc_a",
        "doc_b",
        "common",
        "na",
        "nb",
        F.floor(F.col("jaccard") * 1000000 + F.lit(0.5)).cast("long").alias("jaccard_u"),
        (F.col("jaccard") >= threshold).cast("int").alias("is_dup"),
    )


def dedup_components(
    documents: DataFrame,
    pairs: DataFrame,
    max_iterations: int = 20,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Connected-components keeper resolution over near-dup candidate pairs.

    The step after LSH in a real dedup pipeline: candidate pairs (doc_a,
    doc_b) form an undirected graph; every document in a component keeps
    the component's min doc_id as its canonical ``keeper_id`` (singletons
    keep themselves). Emits (doc_id, keeper_id, is_keeper). Pair endpoints
    must be drawn from ``documents`` (always true for LSH candidates over
    the same corpus).

    Algorithm: only nodes that appear in a candidate pair can ever change
    label — singletons are fixed points — so resolution runs over the
    TOUCHED SUBGRAPH only (|nodes in pairs|, typically a sliver of the
    corpus at real dup rates) and the corpus is joined back exactly once
    at the end. The subgraph's measured edge count picks the strategy:

    * ``<= small_graph_edges`` (the common case even for 10^9-doc corpora
      at real dup rates): union-find on the driver — the edge list is a
      few dozen MB, resolution is O(E α(E)) microseconds-per-edge, and it
      replaces 2+ distributed rounds (each a join + groupBy + convergence
      job) with zero. Same move GraphFrames makes for its small-graph
      path; the corpus itself NEVER reaches the driver.
    * larger: iterative min-label propagation — each round every node
      takes the min label among itself and its neighbors; converges in
      O(graph diameter) rounds (near-dup clusters are shallow: diameter
      is typically 2-4, never the corpus). Each round is one
      co-partitioned join + one groupBy on doc_id over the sliver; the
      driver-side loop is control plane only (a one-row convergence
      aggregate per round). At 10^9+ EDGES swap the propagation for the
      alternating large-star/small-star contraction (Kiveris et al.,
      "Connected Components in MapReduce"), which bounds rounds at
      O(log n) under heavy skew — same output contract.
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # canonical UNDIRECTED edge set (min, max) — counted once, collected
    # once; the directed doubling the propagation loop needs is derived
    # from this cache below
    und = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("src"),
            F.greatest("doc_a", "doc_b").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    und.persist()
    # Size the strategy and the loop's task count from the MEASURED
    # subgraph (the count also fills the edge cache, which the first use
    # would pay anyway): the distinct above materializes at the session's
    # shuffle width, and iterating a 500-edge graph over 128 cached
    # partitions spends the whole round on task scheduling (~2 s/round
    # measured). AQE coalesces reducers but not the cached map side; a
    # narrow coalesce fixes both. Giant graphs keep full parallelism
    # (~1M edges/task).
    n_edges = und.count()
    spark = documents.sparkSession

    if n_edges <= small_graph_edges:
        # driver-side union-find over the candidate subgraph (see docstring)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        # toPandas (Arrow), not collect: 2M PySpark Row objects cost
        # ~100+ bytes each (~0.5 GB python RSS at the gate boundary) while
        # two Arrow-backed pandas columns of the same edges are ~tens of
        # MB; not toLocalIterator either (one sequential job/partition)
        edges_pd = und.toPandas()
        for a, b in zip(edges_pd["src"].tolist(), edges_pd["dst"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        del edges_pd
        und.unpersist()
        # nodes never attached (component minima) keep themselves via the
        # left join's coalesce — only attached nodes need label rows
        resolved = [(node, find(node)) for node in list(parent)]
        dtype = documents.schema["doc_id"].dataType.simpleString()
        labels = spark.createDataFrame(resolved, f"doc_id {dtype}, comp {dtype}")
        return _keeper_join(documents, labels)

    parallelism = spark.sparkContext.defaultParallelism
    parts = int(min(parallelism, n_edges // 1_000_000 + 1))
    narrow = und.coalesce(parts) if parts < parallelism else und
    # directed doubling for the propagation join, derived from the cached
    # undirected set (src < dst strictly, so the swap is disjoint — no
    # second distinct needed)
    edges = narrow.unionByName(
        narrow.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # the doubling emits every paired node on BOTH sides, so distinct src
    # == the touched-node set; everything else keeps itself untouched
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("comp")
    )
    changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(edges.dst.alias("doc_id"))
            .agg(F.min("comp").alias("n_comp"))
        )
        # localCheckpoint (eager) materializes the generation and cuts its
        # lineage: each round reads the previous labels three times (two
        # joins and the convergence join), so an uncut generation roughly
        # doubles the logical plan every round
        new_labels = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))).alias(
                "comp"
            ),
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if changed != 0:
        # running out of rounds means some component's labels are still
        # intermediate — silently returning them would split components
        # into multiple "keepers" and dedup incorrectly
        raise RuntimeError(
            f"dedup_components did not converge in {max_iterations} rounds: "
            f"{changed} labels still changing — a component's diameter "
            f"exceeds max_iterations; raise it (or use star-contraction at "
            f"this scale)"
        )
    # the returned DataFrame reads the final checkpointed labels generation;
    # Spark's context cleaner frees each generation once it is unreferenced
    return _keeper_join(documents, labels)


def _keeper_join(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """One corpus-wide pass: untouched docs (the vast majority) keep
    themselves. The resolved-label side is the candidate subgraph —
    usually small enough that AQE turns this into a broadcast join (not
    forced: at pathological dup rates the subgraph can outgrow the
    driver, and a shuffle join is then the right plan)."""
    return documents.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("keeper_id"),
        (F.coalesce(F.col("comp"), F.col("doc_id")) == F.col("doc_id"))
        .cast("int")
        .alias("is_keeper"),
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.98,
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket-restricted.

    The scale path for vector near-dup at 10^9+ embeddings: candidates come
    only from equal random-hyperplane LSH buckets (`operators/similarity.py
    lsh_buckets` — deterministic planes, identical in DuckDB), then exact
    cosine filters at ``threshold``. The candidate join is bucket-local
    (never the O(n^2) cross join); at cluster scale the corpus partitions
    by bucket. Returns (keep_id, dup_id, cosine) with keep_id < dup_id.

    Expects columns (vec_id, embedding array<float|double>).
    """
    from tsprofiler_spark.operators.similarity import _dot, _norm, lsh_buckets

    # The norm is computed per ROW below the join and carried as a column:
    # Catalyst pushes the cosine threshold into the pair-join condition,
    # and the inlined full cosine (dot + both norms, ~190 float ops + 576
    # array derefs) exceeds janino's method-size limit — the whole pair
    # stage silently fell back to interpreted evaluation. With the norms
    # as child attributes the condition is one 64-term dot, which
    # compiles. Values are bit-identical: sqrt(x) per row == sqrt(x) per
    # pair, and the division dot/(na*nb) is the same IEEE op sequence.
    base = vectors.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    base = base.select("vec_id", "emb", _norm("emb", dim).alias("nrm"))
    buckets = lsh_buckets(vectors, n_planes=n_planes, dim=dim)
    b = base.join(buckets, "vec_id")
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(
        F.col("a.vec_id").alias("keep_id"),
        F.col("c.vec_id").alias("dup_id"),
        (_dot("a.emb", "c.emb", dim) / (F.col("a.nrm") * F.col("c.nrm"))).alias(
            "cosine"
        ),
    )
    return pairs.where(F.col("cosine") >= threshold).select(
        "keep_id", "dup_id", F.round("cosine", 6).alias("cosine")
    )


def synth_benchmark(
    documents: DataFrame, every: int = 29, skip_words: int = 3, n_words: int = 10
) -> DataFrame:
    """Deterministic held-out "benchmark" set derived from the corpus: every
    ``every``-th doc contributes one eval snippet (words ``skip_words+1 ..
    skip_words+n_words`` of its text). Used by tests and the driver query to
    get guaranteed planted contamination without external data; a real
    deployment passes its own (bench_id, text) table to ``decontaminate``."""
    words = F.split(F.lower("text"), " ")
    return documents.where(F.col("doc_id") % every == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(words, skip_words + 1, n_words)).alias("text"),
    )


def decontaminate(documents: DataFrame, benchmark: DataFrame, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word ``n``-gram
    with a held-out eval set (the standard 13-gram-overlap test-set leakage
    check in LLM training pipelines, shortened to ``n`` for test corpora).

    Plan shape for 100 TB: the benchmark side is tiny (eval sets are MBs),
    so its shingle set is **broadcast** — the corpus is never shuffled for
    the probe join; the only shuffle is the groupBy(doc_id) over *hit* rows
    (a minuscule fraction of the corpus). The final left join attaching hit
    counts back to per-doc shingle totals is computed from the same corpus
    scan; no all-pairs work anywhere.

    Returns one row per doc: (doc_id, n_shingles, n_hit_shingles,
    n_bench_matches, contaminated).
    """
    doc_sh = doc_shingles(documents, n)
    bench_sh = benchmark.select(
        "bench_id", F.explode(_word_shingles(F.col("text"), n)).alias("shingle")
    ).distinct()
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_matches"),
        )
    )
    base = documents.select(
        "doc_id", F.size(_word_shingles(F.col("text"), n)).alias("n_shingles")
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("int").alias("n_shingles"),
        F.coalesce("n_hit_shingles", F.lit(0)).cast("int").alias("n_hit_shingles"),
        F.coalesce("n_bench_matches", F.lit(0)).cast("int").alias("n_bench_matches"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )
