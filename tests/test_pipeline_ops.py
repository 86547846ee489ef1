"""Dedup / similarity / text / multimodal operator behavior tests."""

import pytest
from pyspark.sql import functions as F

from tsprofiler_spark.operators.dedup import (
    dedup_exact,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from tsprofiler_spark.operators.multimodal import (
    attach_payload,
    decode_features,
    sample_frames,
)
from tsprofiler_spark.operators.similarity import ann_topk, brute_force_topk
from tsprofiler_spark.operators.textops import language_id, quality_scores, token_counts


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # add exact dups and near-dups with known ids
    dup = base.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars",
    )
    return base.unionByName(dup).unionByName(near).cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_dedup_exact_finds_planted_dups(docs):
    groups = dedup_exact(docs)
    dup_groups = groups.where(F.col("n_copies") >= 2)
    assert dup_groups.count() >= 5
    # keeper is always the smallest id (the original)
    assert dup_groups.where(F.col("keeper_id") >= 100000).count() == 0


def test_minhash_candidates_cover_planted_pairs(docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidates(docs, k=12).collect()}
    base_ids = [r.doc_id for r in docs.where(F.col("doc_id") < 100000).limit(5).collect()]
    covered = sum(
        1
        for b in base_ids
        if (b, b + 100000) in pairs or (b, b + 200000) in pairs
    )
    assert covered >= 4  # exact dups always collide; near-dups almost always


def test_ngram_jaccard_on_planted_near_dups(docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    found = {(r.doc_a, r.doc_b): r.jaccard_u for r in pairs}
    exact = [(k, v) for k, v in found.items() if k[0] < 100000 and k[1] - k[0] == 100000]
    assert len(exact) >= 5
    assert all(v == 1000000 for _, v in exact)  # identical text -> jaccard 1


def test_ngram_jaccard_max_df_prunes_hot_shingle(docs, spark):
    # plant a hot shingle: 60 otherwise-unrelated docs sharing one boilerplate
    # 3-gram ("rights reserved inc") — the standalone join's quadratic skew case
    hot = spark.range(60).select(
        (F.col("id") + 900000).alias("doc_id"),
        F.concat(
            F.lit("rights reserved inc unique"),
            F.col("id").cast("string"),
            F.lit(" filler"),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synthetic").alias("source"),
        F.lit(40).alias("n_chars"),
    )
    corpus = docs.unionByName(hot)
    uncapped = ngram_jaccard_pairs(corpus, n=3, threshold=0.0).where(
        (F.col("doc_a") >= 900000) & (F.col("doc_b") >= 900000)
    )
    capped = ngram_jaccard_pairs(corpus, n=3, threshold=0.0, max_df=50).where(
        (F.col("doc_a") >= 900000) & (F.col("doc_b") >= 900000)
    )
    assert uncapped.count() == 60 * 59 // 2  # hot shingle goes quadratic
    assert capped.count() == 0  # df cap removes the hot key from the join
    # exact pairs below the cap are unaffected (planted exact dups df=2)
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_df=50).where(
        F.col("doc_b") - F.col("doc_a") == 100000
    )
    assert exact.count() >= 5


def test_simhash_near_dups_have_small_hamming(docs):
    sh = {r.doc_id: int(r.simhash) for r in simhash(docs).collect()}
    for base_id in [k for k in sh if k + 200000 in sh][:5]:
        ham = bin(sh[base_id] ^ sh[base_id + 200000]).count("1")
        assert ham <= 6, (base_id, ham)


def test_ann_recall_vs_brute_force(embs):
    brute = brute_force_topk(embs, k=10, query_mod=50)
    approx = ann_topk(embs, k=10, query_mod=50, n_planes=3)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.4  # multi-probe LSH on near-uniform vectors
    # every ANN result's cosine must equal the brute-force cosine (exactness
    # of scoring; approximation only affects candidate coverage)
    bcos = {(r.query_id, r.neighbor_id): r.cosine_u for r in brute.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in bcos:
            assert bcos[(r.query_id, r.neighbor_id)] == r.cosine_u
    # Hamming distance 2 probes strictly more buckets: candidate coverage
    # (and thus recall) must be >= the multiprobe=1 run, never silently
    # capped at distance 1
    approx2 = ann_topk(embs, k=10, query_mod=50, n_planes=3, multiprobe=2)
    a2 = {(r.query_id, r.neighbor_id) for r in approx2.collect()}
    recall2 = len(a2 & b) / len(b)
    assert recall2 >= recall


def test_textops_sanity(docs):
    tq = quality_scores(docs.where(F.col("doc_id") < 100000))
    row = tq.orderBy("doc_id").first()
    assert 0 <= row.quality_u <= 1000000
    tc = token_counts(docs).first()
    assert tc.n_bpe_pieces >= tc.n_tokens  # >=1 piece per token
    li = language_id(docs)
    assert li.where(F.col("lang_pred").isin("en", "unk")).count() == li.count()


def test_multimodal_plumbing(docs):
    payloads = attach_payload(docs.limit(20), "image")
    feats = decode_features(payloads).collect()
    assert len(feats) == 20
    for r in feats:
        assert r.decoder == "stub-bytehist"  # container has no PIL
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-9
    frames = sample_frames(attach_payload(docs.limit(5), "video")).collect()
    assert all(len(r.frame_bytes) <= 64 for r in frames)
    assert {r.doc_id for r in frames} == {r.doc_id for r in docs.limit(5).collect()}


def test_dedup_components_resolves_chains(spark, docs):
    """Min-label propagation must follow multi-hop chains (A-B, B-C, C-D all
    collapse to min(A)), leave singletons as their own keepers, and resolve
    the planted exact+near dup clusters in the documents corpus."""
    from tsprofiler_spark.operators.dedup import dedup_components, minhash_candidates

    nodes = spark.range(100).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (50, 60)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.keeper_id, r.is_keeper) for r in dedup_components(nodes, pairs).collect()}
    assert out[10] == (10, 1) and out[20] == (10, 0)
    assert out[30] == (10, 0) and out[40] == (10, 0)  # 3 hops from 10
    assert out[50] == (50, 1) and out[60] == (50, 0)
    assert out[7] == (7, 1)  # singleton
    assert len(out) == 100

    # the distributed label-propagation path (small_graph_edges=0 forces it)
    # must produce exactly the union-find result
    dist = {
        r.doc_id: (r.keeper_id, r.is_keeper)
        for r in dedup_components(nodes, pairs, small_graph_edges=0).collect()
    }
    assert dist == out

    # on the corpus: every planted exact dup resolves to its original
    corpus = dedup_components(docs, minhash_candidates(docs, k=12))
    res = {r.doc_id: r.keeper_id for r in corpus.collect()}
    base_ids = [r.doc_id for r in docs.where(F.col("doc_id") < 100000).limit(5).collect()]
    covered = sum(1 for b in base_ids if res.get(b + 100000) == res.get(b))
    assert covered >= 4


def test_repetition_scores_flag_stuffed_docs(spark, docs):
    from tsprofiler_spark.operators.textops import repetition_scores

    stuffed = spark.createDataFrame(
        [
            (1, "buy cheap pills " * 50),          # one shingle repeated ~148x
            (2, "a unique sentence with no repeats at all thanks"),
            (3, "hi"),                               # < n words -> whole-text shingle
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_scores(stuffed).collect()}
    assert out[1].dup_ngram_ratio_u > 900000       # almost all shingles repeat
    assert out[1].top_shingle_count >= 40
    assert out[2].dup_ngram_ratio_u == 0
    assert out[3].n_shingles == 1 and out[3].top_shingle_count == 1
    # corpus-wide: ratios bounded, every doc scored
    full = repetition_scores(docs)
    assert full.count() == docs.count()
    assert full.where("dup_ngram_ratio_u < 0 OR dup_ngram_ratio_u > 1000000").count() == 0


def test_derive_multi_series_alignment(spark, sf_dir):
    """Multi-metric stack projection: one row per (turn, metric); the
    len_text slice is row-identical to the single-metric projection, and
    per-metric bucketize ranks stay aligned across metrics (reference
    closes chunks on input count — profiler.go:107)."""
    from tsprofiler_spark.operators.ingest import derive_multi_series, derive_series
    from tsprofiler_spark.operators.profile import bucketize
    from tsprofiler_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf_dir)
    multi = derive_multi_series(t, ("len_text", "n_words")).cache()
    single = derive_series(t)

    assert multi.count() == 2 * t.count()
    assert (
        multi.where(F.col("metric") == "len_text")
        .exceptAll(single)
        .count()
        == 0
    )

    b = bucketize(multi, 4)
    misaligned = (
        b.groupBy("conv_id", "tool", "role", "turn_idx")
        .agg(F.count_distinct("bucket_idx").alias("nb"))
        .where(F.col("nb") != 1)
    )
    assert misaligned.count() == 0
    multi.unpersist()


def test_verify_candidates_confirms_planted_dups_and_reports_fps(docs):
    """The LSH->exact-verify stage: planted exact dups verify at jaccard=1
    (is_dup=1); every candidate row gets an exact score, and is_dup=0 rows
    are precisely LSH banding's false positives (jaccard below threshold)."""
    from tsprofiler_spark.operators.dedup import verify_candidates

    cands = minhash_candidates(docs, k=12)
    out = verify_candidates(docs, cands, n=3, threshold=0.5).collect()
    assert len(out) == cands.count()  # one verdict per candidate
    by_pair = {(r.doc_a, r.doc_b): r for r in out}
    exact = [
        (a, b) for (a, b) in by_pair
        if a < 100000 and b == a + 100000  # planted byte-identical copies
    ]
    assert exact
    for p in exact:
        r = by_pair[p]
        assert r.jaccard_u == 1000000 and r.is_dup == 1 and r.na == r.nb
    for r in out:  # false positives are scored, not dropped
        assert (r.jaccard_u >= 500000) == bool(r.is_dup)


def test_text_chunks_windows_and_overlap(spark):
    from tsprofiler_spark.operators.textops import text_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: [] for r in docs.collect()}
    for r in text_chunks(docs, chunk_tokens=10, overlap=4).collect():
        out[r.doc_id].append(r)
    c1 = sorted(out[1], key=lambda r: r.chunk_idx)
    assert [r.start_token for r in c1] == list(range(0, 100, 6))[: len(c1)]
    assert c1[0].chunk_text.split(" ")[:2] == ["w0", "w1"]
    # adjacent chunks share exactly `overlap` tokens
    assert c1[0].chunk_text.split(" ")[6:] == c1[1].chunk_text.split(" ")[:4]
    assert all(r.chunk_n_tokens == 10 for r in c1[:-1])
    # tail covered with no fully-contained duplicate window: last start is
    # ceil((100-10)/6)=15 -> 16 chunks, final window reaches token 100
    assert len(c1) == 16 and c1[-1].start_token == 90
    assert c1[-1].start_token + c1[-1].chunk_n_tokens == 100
    assert len(out[2]) == 1 and out[2][0].chunk_n_tokens == 2  # short: one chunk
    assert len(out[3]) == 1  # empty text still yields its single token chunk
    # exact-fit doc: n == chunk_tokens must yield exactly ONE window (the
    # old start-while-start<n rule emitted a duplicate tail chunk here)
    exact = spark.createDataFrame(
        [(4, " ".join(f"v{i}" for i in range(10)))], "doc_id long, text string"
    )
    got = text_chunks(exact, chunk_tokens=10, overlap=4).collect()
    assert len(got) == 1 and got[0].chunk_n_tokens == 10


def test_text_redact_masks_and_counts(spark):
    from tsprofiler_spark.operators.textops import text_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and b@c.org, see https://x.y/z id 123456789"),
            (2, "clean text 12345"),  # 5 digits: below the longnum threshold
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text_redact(docs).collect()}
    assert (rows[1].n_email, rows[1].n_url, rows[1].n_longnum) == (2, 1, 1)
    assert (rows[2].n_email, rows[2].n_url, rows[2].n_longnum) == (0, 0, 0)
    import hashlib
    expect = "mail <EMAIL> and <EMAIL>, see <URL> id <LONGNUM>"
    assert rows[1].redacted_md5 == hashlib.md5(expect.encode()).hexdigest()
    assert rows[1].redacted_len == len(expect)


def test_pack_sequences_contiguous_layout(spark):
    """Concatenate-and-cut packing: per shard, start offsets are the exact
    running token sum in doc_id order, pack boundaries land every
    budget_tokens, and every doc lands in the pack where it starts."""
    from tsprofiler_spark.operators.textops import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs, budget_tokens=10, n_shards=4).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.shard == r.doc_id % 4
            assert r.start_offset == cum
            assert r.pack_id == cum // 10
            assert r.offset_in_pack == cum % 10
            cum += r.n_tokens


def test_dedup_components_raises_on_non_convergence(spark):
    """Min-label propagation advances one hop per round: a chain longer
    than max_iterations must fail loudly, not return split components."""
    import pytest as _pytest

    from tsprofiler_spark.operators.dedup import dedup_components

    n = 8
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(nodes, chain, max_iterations=3, small_graph_edges=0)
    # with enough rounds the same chain resolves to one keeper
    out = {r.doc_id: r.keeper_id for r in
           dedup_components(nodes, chain, max_iterations=n, small_graph_edges=0).collect()}
    assert out == {i: 0 for i in range(n)}
    # the default small-graph union-find needs no rounds at all
    uf = {r.doc_id: r.keeper_id for r in dedup_components(nodes, chain).collect()}
    assert uf == out


def test_dedup_components_plan_stays_flat_across_rounds(spark):
    """Each propagation round reads the previous labels generation three
    times; without a lineage cut the plan roughly doubles per round. A
    6-round call's plan must be no larger than a 2-round call's."""
    from tsprofiler_spark.operators.dedup import dedup_components

    def plan_nodes(n):
        # an n-node chain converges in n rounds (n - 1 hops + one quiet round)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        out = dedup_components(nodes, chain, max_iterations=n, small_graph_edges=0)
        assert {r.keeper_id for r in out.collect()} == {0}
        return out._jdf.queryExecution().analyzed().treeString().count("\n")

    assert plan_nodes(6) <= plan_nodes(2)


def test_uhash_sql_matches_bigint_affine(spark):
    """The Mersenne-fold SQL expression (uhash_sql) must equal the exact
    big-integer affine map (a*h + b) mod (2^61 - 1) for 60-bit inputs —
    evaluated by SPARK itself, so the engine's >>/&/% semantics are what
    is being pinned (the same text runs verbatim in the DuckDB oracles)."""
    import random

    from tsprofiler_spark.operators.dedup import MERSENNE_P61, uhash_consts, uhash_sql

    rng = random.Random(159)
    hs = [rng.randrange(0, 1 << 60) for _ in range(500)] + [0, 1, (1 << 60) - 1]
    df = spark.createDataFrame([(h,) for h in hs], "h bigint")
    for a, b in uhash_consts(4):
        got = [r.v for r in df.select(F.expr(uhash_sql(a, b)).alias("v")).collect()]
        want = [(a * h + b) % MERSENNE_P61 for h in hs]
        assert got == want


def test_lsh_bands_matches_inline_band_projection(spark, docs):
    """lsh_bands (long-form API) and minhash_candidates' inline wide-form
    band projection must produce the same (doc_id, band_id, band_hash)
    rows — including the trailing PARTIAL band when rows_per_band does not
    divide k."""
    from tsprofiler_spark.operators.dedup import (
        _minhash_wide,
        lsh_bands,
        minhash_signatures,
    )

    sample = docs.limit(40)
    for k, r in ((12, 3), (12, 5)):
        long_form = {
            (x.doc_id, x.band_id, x.band_hash)
            for x in lsh_bands(minhash_signatures(sample, k=k), rows_per_band=r).collect()
        }
        mins = _minhash_wide(sample, k)
        n_bands = -(-k // r)
        inline = set()
        for row in mins.collect():
            d = row.asDict()
            for b in range(n_bands):
                cols = [str(d[f"m{j}"]) for j in range(b * r, min(k, (b + 1) * r))]
                inline.add((d["doc_id"], b, "-".join(cols)))
        assert long_form == inline


def test_embedding_near_dups_matches_bucketed_bruteforce(embs):
    """Pin embedding_near_dups against an exact numpy replay: same LSH
    buckets, all same-bucket pairs scored by full-precision cosine. Guards
    the carried-norm rewrite (norm-below-join) — any drift between the
    join-time dot/(na*nb) and a straight cosine shows up here."""
    import math

    from tsprofiler_spark.operators.dedup import embedding_near_dups
    from tsprofiler_spark.operators.similarity import lsh_buckets

    # sf0.001 embeddings are near-orthogonal (max pairwise cosine ~0.479),
    # so the threshold sits below that to keep the oracle non-vacuous.
    threshold, n_planes = 0.40, 4
    got = {
        (r.keep_id, r.dup_id): r.cosine
        for r in embedding_near_dups(
            embs, threshold=threshold, n_planes=n_planes
        ).collect()
    }

    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs.collect()}
    bucket = {
        r.vec_id: r.bucket
        for r in lsh_buckets(embs, n_planes=n_planes, dim=64).collect()
    }
    want = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bucket[a] != bucket[b]:
                continue
            va, vb = vecs[a], vecs[b]
            dot = sum(x * y for x, y in zip(va, vb))
            cos = dot / (
                math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(y * y for y in vb))
            )
            if cos >= threshold:
                want[(a, b)] = round(cos, 6)

    assert want, "threshold too high: oracle found no pairs, test is vacuous"
    assert set(got) == set(want)
    for pair, cos in want.items():
        assert abs(got[pair] - cos) <= 1e-6, (pair, got[pair], cos)


def test_null_value_never_consumes_a_buffer_slot(spark):
    """The reference skips unparseable cells BEFORE buffering
    (cmd/csv2tsprofile/main.go:166-170): a NULL observation must not get a
    seq slot — before the fix it did, and chunk_stats' n == buffer_size
    completeness gate then deleted the whole chunk, silently dropping
    buffer_size-1 REAL observations (non-gap-fill path)."""
    import datetime as dt

    from tsprofiler_spark.config import Settings
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.operators.profile import (
        bucketize,
        bucketize_segmented,
        chunk_stats,
    )

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("c", i, "user", None if i == 2 else "x" * (5 + i), "bash",
         t0 + dt.timedelta(minutes=i))
        for i in range(9)  # 8 real values + 1 NULL; buffer_size 4
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    series = derive_series(t)
    settings = Settings(buffer_size=4, states=6, fix_bound=True,
                        fixed_min=0.0, fixed_max=128.0)
    chunks = chunk_stats(bucketize(series, 4), settings).collect()
    # 8 non-null values -> exactly 2 complete chunks, none poisoned
    assert len(chunks) == 2
    assert sorted(c.bucket_idx for c in chunks) == [0, 1]
    assert all(c.n == 4 for c in chunks)
    # segmented variant: identical contract
    seg = chunk_stats(bucketize_segmented(series, 4, segment_turns=4), settings).collect()
    assert sorted((c.bucket_idx, c.n, c.s1) for c in seg) == sorted(
        (c.bucket_idx, c.n, c.s1) for c in chunks
    )
