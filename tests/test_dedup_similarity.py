"""Dedup + similarity operator tests with constructed near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_common_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from hadoop_common_spark.operators.multimodal import as_media_table, decode_image
from hadoop_common_spark.operators.similarity import cosine, cosine_topk_bruteforce


BASE = "the quick brown fox jumps over the lazy dog again and again today"


def _docs(spark):
    return spark.createDataFrame(
        [
            (0, BASE),
            (1, BASE),  # exact dup of 0
            (2, BASE.replace("today", "tomorrow")),  # near dup
            (3, "completely different content about spark engines and shuffles here"),
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup_groups(spark):
    out = {r.keep_id: r.n_copies for r in exact_dedup(_docs(spark), "text", "doc_id").collect()}
    assert out[0] == 2  # docs 0,1 collapse; keeper is min id
    assert out[2] == 1 and out[3] == 1


def test_minhash_finds_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(_docs(spark), "doc_id", "text", threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_simhash_identical_docs_equal_fingerprints(spark):
    fps = {r.doc_id: r.simhash for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert fps[0] == fps[1]
    # near-dup has small hamming distance; unrelated doc has large
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[0], fps[2]) < ham(fps[0], fps[3])


def test_simhash_pairs_pigeonhole_guarantee(spark):
    """Any pair within max_distance MUST be found (candidate recall is
    exact by pigeonhole, not probabilistic) and hamming is the true
    popcount; pairs beyond the bound never appear."""
    # Fingerprints crafted directly: distances 0-60 from a base value.
    base = 0x0ABC_DEF0_1234_567  # < 2^60
    flip = lambda v, *bits: v ^ sum(1 << b for b in bits)  # noqa: E731
    fp = spark.createDataFrame(
        [
            (0, base),
            (1, base),  # distance 0
            (2, flip(base, 3)),  # distance 1
            (3, flip(base, 3, 17, 44)),  # distance 3 (spread over 3 chunks)
            (4, flip(base, 0, 15, 30, 45)),  # distance 4: one flip per chunk -> excluded
            (5, (1 << 60) - 1 - base),  # distance 60
        ],
        ["doc_id", "simhash"],
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(fp, "doc_id", max_distance=3).collect()
    }
    assert got[(0, 1)] == 0 and got[(1, 2)] == 1 and got[(0, 3)] == 3
    assert (0, 4) not in got and not any(5 in p for p in got)
    # end-to-end over text docs: exact dup pair surfaces at distance 0
    fps = simhash(_docs(spark), "doc_id", "text")
    e2e = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(fps, "doc_id", max_distance=3).collect()}
    assert e2e[(0, 1)] == 0


def test_ngram_jaccard_blocked(spark):
    df = _docs(spark).withColumn("blk", F.lit("all"))
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", "blk", threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0 and (0, 2) in pairs


def test_cosine_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # close to 0
            (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        ["vec_id", "embedding"],
    )
    out = cosine_topk_bruteforce(vecs, vecs.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3]


def test_cosine_bounds(spark):
    df = spark.createDataFrame([([1.0, 2.0], [2.0, 4.0])], ["a", "b"])
    val = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert abs(val - 1.0) < 1e-12


def test_decode_image_fake_matches_formula(spark):
    import hashlib

    media = as_media_table(_docs(spark), "doc_id", "text")
    out = {r.doc_id: (r.width, r.height, r.byte_len) for r in decode_image(media).collect()}
    h = hashlib.md5(BASE.encode()).hexdigest()
    assert out[0] == (1 + int(h[:15], 16) % 1920, 1 + int(h[15:30], 16) % 1080, len(BASE))


def _png(w, h):
    # a real, fully-valid PNG: signature + IHDR + IDAT (one row-filtered
    # grayscale scanline set) + IEND, correct CRCs throughout
    import struct
    import zlib

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg(w, h):
    # SOI + APP0(JFIF) + SOF0 carrying the dimensions (enough of a real
    # stream for any header-walking dimension decoder)
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_decode_image_real_headers(spark):
    """fake=False REALLY decodes: PNG/GIF/BMP/JPEG dims from the actual
    container bytes — same plumbing, different kernel (the design claim)."""
    import struct

    from pyspark.sql import functions as F

    payloads = [
        (0, _png(640, 480), 640, 480),
        (1, b"GIF89a" + struct.pack("<HH", 320, 200) + bytes(100), 320, 200),
        # well-formed BITMAPINFOHEADER: DIB size 40 at offset 14, then w/h
        (2, b"BM" + bytes(12) + struct.pack("<Iii", 40, 800, -600) + bytes(100), 800, 600),
        # OS/2 BITMAPCOREHEADER: DIB size 12, 16-bit w/h fields
        (4, b"BM" + bytes(12) + struct.pack("<IHH", 12, 160, 120) + bytes(100), 160, 120),
        (3, _jpeg(1024, 768), 1024, 768),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b, _, _ in payloads], "doc_id long, content binary"
    ).withColumn("byte_len", F.length("content").cast("bigint"))
    out = {r.doc_id: (r.width, r.height) for r in decode_image(df, fake=False).collect()}
    assert out == {i: (w, h) for i, _, w, h in payloads}

    # an unknown DIB header size raises instead of parsing garbage (ADVICE r4)
    from hadoop_common_spark.operators.multimodal import _real_dims

    with pytest.raises(ValueError, match="DIB"):
        _real_dims(b"BM" + bytes(12) + struct.pack("<Iii", 99, 1, 1) + bytes(40))


def _clustered_vectors(spark, n_clusters=4, per_cluster=12, dim=8):
    # deterministic clusters: center c = one-hot(c)*10; member j offsets
    # two coordinates by small amounts so in-cluster cosine >> cross-cluster
    rows = []
    vid = 0
    for c in range(n_clusters):
        for j in range(per_cluster):
            v = [0.0] * dim
            v[c] = 10.0 + (j % 3) * 0.1
            v[(c + 1 + j) % dim] += 0.5 + 0.01 * j
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_exhaustive_equals_bruteforce(spark):
    from hadoop_common_spark.operators.ivf import ivf_index, ivf_search, kmeans_fit

    vecs = _clustered_vectors(spark)
    cents = kmeans_fit(vecs, "embedding", "vec_id", nlist=4, iters=2)
    assert cents.count() <= 4
    idx = ivf_index(vecs, cents, "embedding")
    assert idx.count() == vecs.count()  # every vector lands in exactly one cell
    q = vecs.filter(F.col("vec_id") < 6)
    ivf = ivf_search(q, idx, cents, "vec_id", "embedding", k=3, nprobe=4)
    bf = cosine_topk_bruteforce(vecs, q, "vec_id", "embedding", k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in ivf.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in bf.collect()}
    assert got == want


def test_ivf_shuffle_join_variant_equals_broadcast(spark):
    """broadcast_probes=False (query sets beyond the broadcast
    threshold) must produce the identical result via a shuffle equi-join
    on cell, and its plan must contain no broadcast of the probe side."""
    from hadoop_common_spark.operators.ivf import ivf_index, ivf_search, kmeans_fit

    vecs = _clustered_vectors(spark)
    cents = kmeans_fit(vecs, "embedding", "vec_id", nlist=4, iters=2)
    idx = ivf_index(vecs, cents, "embedding")
    q = vecs.filter(F.col("vec_id") < 6)
    bcast = ivf_search(q, idx, cents, "vec_id", "embedding", k=3, nprobe=2)
    shuf = ivf_search(
        q, idx, cents, "vec_id", "embedding", k=3, nprobe=2, broadcast_probes=False
    )
    got_b = {(r.query_id, r.rank): r.neighbor_id for r in bcast.collect()}
    got_s = {(r.query_id, r.rank): r.neighbor_id for r in shuf.collect()}
    assert got_b == got_s


def test_ivf_pruned_recall(spark):
    from hadoop_common_spark.operators.ivf import ivf_index, ivf_search, kmeans_fit

    vecs = _clustered_vectors(spark)
    cents = kmeans_fit(vecs, "embedding", "vec_id", nlist=4, iters=3)
    idx = ivf_index(vecs, cents, "embedding")
    q = vecs.filter(F.col("vec_id") < 6)
    ivf = ivf_search(q, idx, cents, "vec_id", "embedding", k=3, nprobe=1)
    bf = cosine_topk_bruteforce(vecs, q, "vec_id", "embedding", k=3)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    want = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.6, f"recall@3 with nprobe=1 was {recall}"


def test_kmeans_highdim_update_is_dim_independent(spark):
    """At dim=512 the Lloyd's update must (a) produce the numpy-exact
    one-step result and (b) keep the aggregate O(1) expressions wide —
    the unrolled form would put 512 sum() columns in the plan and blow
    codegen at real embedding dims."""
    import hashlib

    import numpy as np

    from hadoop_common_spark.operators.ivf import kmeans_fit

    dim, n, nlist = 512, 40, 3
    rows = [
        (i, [float((i * 31 + j * 7) % 11) - 5.0 for j in range(dim)])
        for i in range(n)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_fit(vecs, "embedding", "vec_id", nlist=nlist, iters=1)
    plan = cents._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("sum(") + plan.count("avg(") < 10, "dim-unrolled aggregate leaked back"
    # numpy replay: same deterministic init (nlist smallest md5(id)), one
    # assign + mean step
    data = {i: np.array(v) for i, v in rows}
    init_ids = sorted(data, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:nlist]
    init_ids.sort(key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    init = [data[i] for i in init_ids]
    assign = {
        i: min(range(nlist), key=lambda c: float(((v - init[c]) ** 2).sum()))
        for i, v in data.items()
    }
    want = {
        c: np.mean([data[i] for i in data if assign[i] == c], axis=0)
        for c in set(assign.values())
    }
    got = {r.cell: np.array(r.centroid) for r in cents.collect()}
    assert set(got) == set(want)
    for c in want:
        assert np.allclose(got[c], want[c]), f"cell {c} centroid mismatch"


def test_audio_features_fake_matches_formula(spark):
    import hashlib

    from hadoop_common_spark.operators.multimodal import audio_features

    media = as_media_table(_docs(spark), "doc_id", "text")
    out = {r.doc_id: (r.sample_rate, r.duration_ms, r.rms) for r in audio_features(media).collect()}
    h = hashlib.md5(BASE.encode()).hexdigest()
    rate = (8000, 16000, 44100)[int(h[:15], 16) % 3]
    assert out[0] == (rate, (len(BASE) * 500) // rate, (int(h[15:30], 16) % 10000) / 10000.0)


def test_audio_features_real_wav(spark):
    """fake=False REALLY decodes WAV via the stdlib wave module: rate,
    duration and rms match a direct numpy computation on the samples."""
    import io
    import wave

    import numpy as np

    from hadoop_common_spark.operators.multimodal import audio_features

    rng = np.random.default_rng(42)
    samples = (rng.standard_normal(16000) * 8000).clip(-32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(samples.tobytes())
    wav = buf.getvalue()
    df = spark.createDataFrame([(7, bytearray(wav))], "doc_id long, content binary")
    row = audio_features(df, fake=False).collect()[0]
    want_rms = float(np.sqrt(np.mean((samples.astype(np.float64) / 32768.0) ** 2)))
    assert row.sample_rate == 16000
    assert row.duration_ms == 1000
    assert abs(row.rms - want_rms) < 1e-12


def test_resize_fits_box_and_preserves_aspect(spark):
    from hadoop_common_spark.operators.multimodal import decode_image, resize_dims

    media = as_media_table(_docs(spark), "doc_id", "text")
    rows = resize_dims(decode_image(media), 256, 256).collect()
    assert rows
    for r in rows:
        assert 1 <= r.out_w <= 256 and 1 <= r.out_h <= 256
        # the binding dimension fills the box (floor can undershoot by <1px)
        assert max(r.out_w, r.out_h) >= 255 or (r.width < 256 and r.height < 256)


def test_ivf_index_partitioned_persistence_prunes(spark, tmp_path):
    """The inverted file persisted partitionBy(cell): probing one cell
    reads one partition directory (scan-time pruning), and the reloaded
    index answers searches identically to the in-memory one."""
    from hadoop_common_spark.operators.ivf import ivf_index, ivf_search, kmeans_fit
    from hadoop_common_spark.sources.writers import write_partitioned

    vecs = _clustered_vectors(spark)
    cents = kmeans_fit(vecs, "embedding", "vec_id", nlist=4, iters=2)
    idx = ivf_index(vecs, cents, "embedding")
    path = str(tmp_path / "ivf_index")
    write_partitioned(idx, path, ["cell"])

    reloaded = spark.read.parquet(path)
    one_cell = reloaded.filter(F.col("cell") == 0)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "cell" in scan

    q = vecs.filter(F.col("vec_id") < 4)
    mem = ivf_search(q, idx, cents, "vec_id", "embedding", k=3, nprobe=4)
    disk = ivf_search(q, reloaded, cents, "vec_id", "embedding", k=3, nprobe=4)
    as_set = lambda df: {(r.query_id, r.rank, r.neighbor_id) for r in df.collect()}  # noqa: E731
    assert as_set(mem) == as_set(disk)


def test_connected_components_chain_and_islands(spark):
    """A 12-node chain (worst case for plain propagation — needs pointer
    jumping), one triangle, one isolated pair; min node id labels each."""
    from hadoop_common_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 112)]
    triangle = [(7, 8), (8, 9), (7, 9)]
    pair = [(1, 2)]
    edges = spark.createDataFrame(chain + triangle + pair, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    for n in range(100, 113):
        assert got[n] == 100
    for n in (7, 8, 9):
        assert got[n] == 7
    assert got[1] == 1 and got[2] == 1


def test_connected_components_unordered_edges(spark):
    """Edge direction must not matter (dst < src)."""
    from hadoop_common_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(5, 3), (3, 9), (20, 10)], ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 10: 10, 20: 10}


def test_pq_exact_reconstruction_matches_l2_bruteforce(spark):
    """PQ correctness contract: with ksub >= #rows every subvector is its
    own centroid (zero quantization error), so ADC == exact squared L2
    and PQ top-k must equal brute-force L2 top-k — including through
    Lloyd refinement iterations (means of singleton clusters are fixed
    points)."""
    from hadoop_common_spark.operators.pq import (
        pq_adc_search,
        pq_codebooks,
        pq_encode,
    )

    from hadoop_common_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings").filter(F.col("vec_id") < 40)
    cb = pq_codebooks(emb, "vec_id", "embedding", m=4, dsub=16, ksub=40, iters=2)
    codes = pq_encode(emb, cb, "vec_id", "embedding", m=4, dsub=16)
    queries = emb.filter(F.col("vec_id") < 5)
    got = pq_adc_search(
        queries, codes, cb, "vec_id", "embedding", k=3, m=4, dsub=16, ksub=40
    ).collect()

    # exact L2 brute force
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(F.col("vec_id").alias("neighbor_id"), vd.alias("dv"))
    q = queries.select(F.col("vec_id").alias("query_id"), vd.alias("qv"))
    diff = F.zip_with(F.col("qv"), F.col("dv"), lambda x, y: x - y)
    sq = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("sq"), F.asc("neighbor_id"))
    want = (
        d.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sq", sq)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    got_set = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got}
    want_set = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want}
    assert got_set == want_set
    # ADC distances equal the exact squared distances bit-for-bit is NOT
    # guaranteed (fold grouping differs per subspace); value closeness is
    adc = {(r["query_id"], r["neighbor_id"]): r["adc"] for r in got}
    exact = {(r["query_id"], r["neighbor_id"]): r["sq"] for r in want}
    for key, v in adc.items():
        assert abs(v - exact[key]) < 1e-9 * max(1.0, exact[key])


def test_pq_distortion_non_increasing_with_lloyd(spark):
    """Lloyd refinement must not increase mean quantization error
    (k-means distortion is monotone non-increasing)."""
    from hadoop_common_spark.operators.pq import (
        _sq_dist,
        _subspace_structs,
        pq_codebooks,
    )

    from hadoop_common_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings").filter(F.col("vec_id") < 200)

    def distortion(iters: int) -> float:
        cb = pq_codebooks(emb, "vec_id", "embedding", m=4, dsub=16, ksub=8, iters=iters)
        sv = emb.select(
            F.explode(_subspace_structs(F.col("embedding"), 4, 16)).alias("_sc")
        ).select(F.col("_sc.sub").alias("sub"), F.col("_sc.svec").alias("svec"))
        from hadoop_common_spark.operators.pq import _encode_subvectors

        enc = _encode_subvectors(sv, cb)
        joined = enc.join(cb, ["sub", "code"])
        return joined.agg(
            F.avg(_sq_dist(F.col("svec"), F.col("centroid"))).alias("e")
        ).collect()[0]["e"]

    e0, e2 = distortion(0), distortion(2)
    assert e2 <= e0 + 1e-9


def test_ivfpq_pruned_recall(spark):
    """IVF-PQ with pruned probing (nprobe < nlist) must still recover
    most of the full-ADC top-k — the composed scale path's recall
    contract."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.ivf import ivf_index, kmeans_fit
    from hadoop_common_spark.operators.pq import (
        ivfpq_search,
        pq_adc_search,
        pq_codebooks,
        pq_encode,
    )
    from hadoop_common_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings").filter(F.col("vec_id") < 200)
    cents = kmeans_fit(emb, "embedding", "vec_id", nlist=4, iters=2)
    cells = ivf_index(emb, cents, "embedding").select("vec_id", "cell")
    cb = pq_codebooks(emb, "vec_id", "embedding", m=4, dsub=16, ksub=16, iters=1)
    codes = pq_encode(emb, cb, "vec_id", "embedding", m=4, dsub=16)
    index_codes = cells.join(codes, "vec_id")
    q = emb.filter(F.col("vec_id") < 6)
    pruned = ivfpq_search(
        q, index_codes, cents, cb, "vec_id", "embedding",
        k=3, nprobe=2, m=4, dsub=16, ksub=16,
    )
    full = pq_adc_search(
        q, codes, cb, "vec_id", "embedding", k=3, m=4, dsub=16, ksub=16
    )
    got = {(r.query_id, r.neighbor_id) for r in pruned.collect()}
    want = {(r.query_id, r.neighbor_id) for r in full.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.6, f"IVF-PQ recall@3 with nprobe=2 was {recall}"


def test_pq_fewer_rows_than_ksub_stays_exact(spark):
    """Review regression: with fewer rows than ksub the codebook carries
    fewer codes per subspace — the ADC table lookup must stay aligned
    (positional indexing read across subspaces). Every row is its own
    centroid here, so ADC top-k must equal exact L2 top-k."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.pq import (
        pq_adc_search,
        pq_codebooks,
        pq_encode,
    )
    from hadoop_common_spark.tables import register_views

    register_views(spark, "/root/testdata/sf0.001")
    emb = spark.table("embeddings").filter(F.col("vec_id") < 10)  # 10 rows, ksub=16
    cb = pq_codebooks(emb, "vec_id", "embedding", m=4, dsub=16, ksub=16, iters=0)
    codes = pq_encode(emb, cb, "vec_id", "embedding", m=4, dsub=16)
    got = pq_adc_search(
        emb.filter(F.col("vec_id") < 3), codes, cb, "vec_id", "embedding",
        k=3, m=4, dsub=16, ksub=16,
    ).collect()
    assert all(abs(r.adc) < 1e20 and r.adc is not None for r in got)
    # exact-reconstruction check vs brute-force L2
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(F.col("vec_id").alias("neighbor_id"), vd.alias("dv"))
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), vd.alias("qv"))
    diff = F.zip_with(F.col("qv"), F.col("dv"), lambda x, y: x - y)
    sq = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("sq"), F.asc("neighbor_id"))
    want = (
        d.crossJoin(q).filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sq", sq).withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3).collect()
    )
    assert {(r.query_id, r.rank): r.neighbor_id for r in got} == {
        (r.query_id, r.rank): r.neighbor_id for r in want
    }


def test_banded_lsh_near_dup_recall_and_kernel_equivalence(spark, sf_dir):
    """Banded sign-LSH quality contract: (1) the Arrow kernel's keys
    equal the built-in HOF expression's keys on real data; (2) among
    genuine near-duplicate pairs (cosine >= 0.9, synthesized as
    deterministic perturbations), at least 95% collide in some band with
    the 16x4 production config — the recall that makes the banded
    candidate join a valid substitute for the all-pairs scan."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_common_spark.operators.similarity import (
        _coef_int,
        sign_lsh_band_keys,
        sign_lsh_band_keys_udf,
    )

    bands, ppb, dim = 16, 4, 64
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    hof = emb.select("vec_id", sign_lsh_band_keys(F.col("embedding"), dim, bands, ppb).alias("k"))
    udf = emb.select("vec_id", sign_lsh_band_keys_udf(dim, bands, ppb)("embedding").alias("k"))
    mism = hof.alias("h").join(udf.alias("u"), "vec_id").filter(F.col("h.k") != F.col("u.k")).count()
    assert mism == 0

    V = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    # deterministic directional perturbation (scaling alone is
    # cosine-invariant and would be a vacuous test)
    rng_pattern = np.sin(np.arange(dim)[None, :] * (1.0 + np.arange(len(V))[:, None] % 7))
    W = V + 0.15 * np.std(V, axis=1, keepdims=True) * rng_pattern
    cos = (V * W).sum(1) / (np.linalg.norm(V, axis=1) * np.linalg.norm(W, axis=1))

    C = np.array([[_coef_int(p, i) / 1000.0 for i in range(dim)] for p in range(bands * ppb)])

    def keys(M):
        projs = np.cumsum(M[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
        bits = (projs > 0).reshape(len(M), bands, ppb)
        weights = (1 << np.arange(ppb)).astype(np.int64)
        offs = (np.arange(bands) * (1 << ppb)).astype(np.int64)
        return offs[None, :] + (bits * weights[None, None, :]).sum(axis=2)

    kv, kw = keys(V), keys(W)
    near = cos >= 0.9
    assert near.sum() >= 50  # the perturbation actually produces near-dups
    collide = np.array([len(set(a) & set(b)) > 0 for a, b in zip(kv, kw)])
    recall = collide[near].mean()
    assert recall >= 0.95, f"banded recall {recall:.3f} on {near.sum()} near-dup pairs"


def test_multiprobe_beats_single_probe_recall(spark, sf_dir):
    """Multiprobe LSH must recall at least as many true top-5 neighbors
    as single-bucket probing, and strictly more than half of brute-force
    truth on this data — the whole point of the extra probes."""
    from pyspark.sql import functions as F

    from hadoop_common_spark.queries import load_all

    reg = load_all()
    truth = {
        (r.query_id, r.neighbor_id)
        for r in reg["similarity_cosine_topk"].fn(spark, sf_dir).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in reg["similarity_lsh_multiprobe_topk"].fn(spark, sf_dir).collect()
    }
    # single-probe baseline: same pipeline, probes = exact bucket only
    from hadoop_common_spark.operators.similarity import (
        dot_exact,
        sign_lsh_bucket,
    )
    from hadoop_common_spark.queries.similarity import DIM, PLANES
    from pyspark.sql import Window

    emb = spark.table("embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        F.col("vec_id").alias("neighbor_id"), vd.alias("d_vec"),
        F.sqrt(dot_exact(vd, vd)).alias("d_norm"),
        sign_lsh_bucket(F.col("embedding"), DIM, PLANES).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), vd.alias("q_vec"),
        F.sqrt(dot_exact(vd, vd)).alias("q_norm"),
        sign_lsh_bucket(F.col("embedding"), DIM, PLANES).alias("bucket"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    single = {
        (r.query_id, r.neighbor_id)
        for r in (
            d.join(F.broadcast(q), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos", dot_exact(F.col("q_vec"), F.col("d_vec")) / (F.col("q_norm") * F.col("d_norm")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .collect()
        )
    }
    # multiprobe candidates are a superset of single-probe candidates, so
    # recall can only improve; on this data (moderate-cosine true
    # neighbors — the hard case for 8-plane LSH) it must at least find
    # SOMETHING, while the truth-set half-recall bound belongs to
    # near-duplicate regimes (see test_banded_lsh_near_dup_recall)
    assert len(multi & truth) >= len(single & truth)
    assert len(multi & truth) > 0


def test_band_recall_formula_and_production_config():
    """The closed-form recall model must match the knob guidance the
    dedup docstrings rely on: the production 16x4 config clears 0.9
    recall at the 0.35 query threshold and is ~certain for real
    near-duplicates; the single-probe 8-plane bucket (corpus_semantic_
    dedup's blocking) is far weaker at the same threshold — exactly why
    that query pairs it with a lower-stakes 0.2 threshold + connected
    components."""
    from hadoop_common_spark.operators.similarity import sign_lsh_band_recall

    assert 0.90 <= sign_lsh_band_recall(0.35, 16, 4) <= 0.93
    assert sign_lsh_band_recall(0.9, 16, 4) > 0.999
    assert sign_lsh_band_recall(0.35, 1, 8) < 0.05
    # monotonicity: more bands -> more recall; more planes -> less
    assert sign_lsh_band_recall(0.5, 32, 4) > sign_lsh_band_recall(0.5, 16, 4)
    assert sign_lsh_band_recall(0.5, 16, 8) < sign_lsh_band_recall(0.5, 16, 4)


def test_triangle_count_known_graphs(spark):
    """K4 has exactly 4 triangles; a 4-cycle has 0; duplicate /
    reversed / self-loop edges must not change the count."""
    from hadoop_common_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1), (1, 0)]
    r = triangle_count(spark.createDataFrame(noisy, ["src", "dst"])).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    r2 = triangle_count(spark.createDataFrame(square, ["src", "dst"])).collect()[0]
    assert (r2.n_nodes, r2.n_edges, r2.n_triangles) == (4, 4, 0)

    # star (hub with 5 leaves): many wedges at the hub, zero triangles —
    # and the orientation must not route wedge generation through the hub
    star = [(9, i) for i in range(5)]
    r3 = triangle_count(spark.createDataFrame(star, ["src", "dst"])).collect()[0]
    assert (r3.n_nodes, r3.n_edges, r3.n_triangles) == (6, 5, 0)


def test_cosine_verify_pairs_both_paths_agree(spark):
    """The broadcast kernel and the join fallback (the actual 100 TB
    path, forced via a tiny gate) must produce IDENTICAL rows — same
    pairs, bit-equal cosines — including dropping pairs that reference
    a NULL vector."""
    from hadoop_common_spark.operators.similarity import cosine_verify_pairs

    vecs = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(30)]
    vecs.append((30, None))  # NULL vector: its pairs must drop on BOTH paths
    vectors = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(31) for b in range(a + 1, 31)], ["id_a", "id_b"]
    )
    bc = cosine_verify_pairs(pairs, vectors, "vec_id", "embedding", threshold=0.2)
    jn = cosine_verify_pairs(
        pairs, vectors, "vec_id", "embedding", threshold=0.2, max_broadcast_rows=5
    )
    got_bc = sorted((r.id_a, r.id_b, r.cos) for r in bc.collect())
    got_jn = sorted((r.id_a, r.id_b, r.cos) for r in jn.collect())
    assert len(got_bc) > 0
    assert got_bc == got_jn  # bit-equal cosines, identical pair set
    assert not any(30 in (a, b) for a, b, _ in got_bc)


def test_blocked_cc_equals_generic_cc(spark):
    """connected_components_blocked must agree exactly with the iterative
    connected_components on any block-partitioned edge set (its
    precondition) — including multi-edge chains within a block and
    blocks with a single pair."""
    from hadoop_common_spark.operators.graph import (
        connected_components,
        connected_components_blocked,
    )

    edges = spark.createDataFrame(
        [
            # block A: chain 1-2-3 plus separate pair 7-8
            ("a", 1, 2), ("a", 2, 3), ("a", 7, 8),
            # block B: triangle with redundant edge
            ("b", 10, 11), ("b", 11, 12), ("b", 10, 12),
            # block C: single pair, reversed id order
            ("c", 21, 20),
        ],
        "blk string, id_a long, id_b long",
    )
    blocked = {
        (r.node, r.component)
        for r in connected_components_blocked(edges, "id_a", "id_b", "blk").collect()
    }
    generic = {
        (r.node, r.component)
        for r in connected_components(edges, "id_a", "id_b").collect()
    }
    assert blocked == generic
    assert (20, 20) in blocked and (21, 20) in blocked


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_shingle_df: capped discovery, uncapped (exact) scores. A gram
    shared by every doc is excluded from candidate generation, so a pair
    whose ONLY overlap is the hot gram disappears — but genuine near-dups
    still surface through their cold shared shingles, with jaccard
    computed over the FULL sets, identical to the uncapped value."""
    hot = "the end of line"  # 4 words -> two 3-gram shingles, in every doc
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon " + hot),
            (1, "alpha beta gamma delta zeta " + hot),   # near-dup of 0
            (2, "one two three four five " + hot),        # hot-only overlap
        ],
        ["doc_id", "text"],
    ).withColumn("blk", F.lit("all"))

    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", "blk", threshold=0.01).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "blk", threshold=0.01, max_shingle_df=2
        ).collect()
    }
    # near-dup pair survives the cap with the EXACT uncapped score
    assert (0, 1) in capped and capped[(0, 1)] == uncapped[(0, 1)]
    # hot-only pairs existed uncapped but drop out of capped discovery
    assert (0, 2) in uncapped and (0, 2) not in capped
    # a cap no gram exceeds reproduces the uncapped result exactly
    wide = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "blk", threshold=0.01, max_shingle_df=10**6
        ).collect()
    }
    assert wide == uncapped


def test_minhash_and_simhash_bucket_caps(spark):
    """max_bucket_size on the minhash band join and the simhash chunk
    join: default None is untouched; a capped degenerate bucket drops
    out while genuine near-dups keep pairing through their other
    bands/chunks."""
    docs = _docs(spark)
    base = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    wide = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.3, max_bucket_size=1000
        ).collect()
    }
    assert wide == base  # cap above every occupancy == uncapped
    # cap of 1 excludes every shared band bucket -> no candidates at all
    none = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.3, max_bucket_size=1
    ).count()
    assert none == 0

    fps = simhash(docs, "doc_id", "text")
    sbase = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(fps, "doc_id", max_distance=3).collect()
    }
    swide = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            fps, "doc_id", max_distance=3, max_bucket_size=1000
        ).collect()
    }
    assert swide == sbase


@pytest.mark.parametrize(
    "bad", ["band", "_keys", "h0", "H15", "_one", "_shset", "band_key", "sh_b", "doc`id"]
)
def test_minhash_lsh_pairs_rejects_colliding_id_col(spark, bad):
    """id_col is spliced into parsed SQL next to the builder's own
    aliases; a colliding name must fail fast with ValueError, not with
    [AMBIGUOUS_REFERENCE] deep in analysis."""
    docs = _docs(spark).withColumnRenamed("doc_id", bad)
    with pytest.raises(ValueError, match="collides with internal aliases"):
        minhash_lsh_pairs(docs, bad, "text", threshold=0.3)


@pytest.mark.parametrize("bad", ["chunk", "_fp", "chunk_val", "_c", "id_a", "_fb", "doc`id"])
def test_simhash_pairs_rejects_colliding_id_col(spark, bad):
    fps = simhash(_docs(spark), "doc_id", "text").withColumnRenamed("doc_id", bad)
    with pytest.raises(ValueError, match="collides with internal aliases"):
        simhash_pairs(fps, bad, max_distance=3)


def test_pair_builders_quote_unusual_id_col(spark):
    """A legal but unusual id name (a space, upper case) is quoted, not
    rejected, and pairs exactly like doc_id."""
    docs = _docs(spark)
    odd = docs.withColumnRenamed("doc_id", "Doc Id")
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(odd, "Doc Id", "text", threshold=0.3).collect()
    }
    assert got == want and want
    fps = simhash(docs, "doc_id", "text")
    want = set(simhash_pairs(fps, "doc_id", max_distance=3).collect())
    got = set(
        simhash_pairs(
            fps.withColumnRenamed("doc_id", "Doc Id"), "Doc Id", max_distance=3
        ).collect()
    )
    assert got == want and want


def test_containment_pairs_asymmetric(spark):
    """Containment finds the excerpt Jaccard misses: a short doc whose
    every shingle appears in a long doc scores cont_short = 1.0 even
    when Jaccard is far below any threshold; disjoint docs never pair;
    sub-shingle-length docs are excluded (no division by zero)."""
    from hadoop_common_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(40))          # 38 shingles
    excerpt = " ".join(f"w{i}" for i in range(10, 16))        # 4 shingles, all in long
    other = " ".join(f"x{i}" for i in range(20))              # disjoint
    tiny = "only two"                                         # 0 shingles
    docs = spark.createDataFrame(
        [(1, long_text, "en"), (2, excerpt, "en"), (3, other, "en"), (4, tiny, "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(
            docs, "doc_id", "text", "lang", threshold=0.5
        ).collect()
    }
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    assert ca == 4.0 / 38.0 and cb == 1.0   # asymmetry: excerpt fully contained
    assert all(4 not in pair and 3 not in pair for pair in got)


def test_canonical_quality_consistent_with_cluster_resolution(spark, sf_dir_med):
    """dedup_canonical_quality and dedup_cluster_resolution must agree on
    the cluster structure (same cluster ids, same member counts for
    multi-member clusters), while canonical choice differs by design:
    quality picks a member whose n_chars equals the cluster max."""
    from hadoop_common_spark.queries import load_all

    reg = load_all()
    qual = {
        r.cluster_id: r
        for r in reg["dedup_canonical_quality"].fn(spark, sf_dir_med).collect()
    }
    res = reg["dedup_cluster_resolution"].fn(spark, sf_dir_med).collect()
    docs_chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir_med}/documents.parquet").collect()
    }
    from collections import Counter

    member_count = Counter(r.cluster_id for r in res)
    multi = {cid: n for cid, n in member_count.items() if n >= 2}
    assert set(qual) == set(multi)
    for cid, row in qual.items():
        assert row.n_members == multi[cid]
        assert docs_chars[row.canonical_id] == row.max_chars
        # canonical is min doc_id among the max-chars members
        members = [r.doc_id for r in res if r.cluster_id == cid]
        best = min(d for d in members if docs_chars[d] == row.max_chars)
        assert row.canonical_id == best


def test_temperature_mixture_is_normalized(spark, sf_dir_med):
    """Temperature weights form a distribution and damp dominant
    sources: sum(weight) == 1 (up to float), every source keeps a
    positive weight, and the boost ordering is inverse to raw share
    (sqrt damping)."""
    from hadoop_common_spark.queries import load_all

    rows = (
        load_all()["corpus_temperature_mixture"].fn(spark, sf_dir_med).collect()
    )
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.raw_share for r in rows) - 1.0) < 1e-9
    assert all(r.weight > 0 for r in rows)
    hi = max(rows, key=lambda r: r.n_tokens)
    lo = min(rows, key=lambda r: r.n_tokens)
    if hi.n_tokens > lo.n_tokens:
        assert hi.boost < lo.boost  # big sources damped, small boosted


def test_shared_span_exact_length(spark):
    """Diagonal-run span detection is EXACT: a planted 40-char verbatim
    overlap reports max_span == 40; disjoint docs never pair; an overlap
    shorter than k (16) is invisible; a repeated substring inside one doc
    does not inflate the pair's span."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"  # 40 chars
    assert len(shared) == 40
    d1 = "PREFIXONE." + shared + ",suffix one tail"
    d2 = "totally different start:" + shared + ";another ending"
    d3 = "no overlap here at all, nothing shared with others"
    d4 = "short " + shared[:10] + " bit"          # 10 < k — invisible
    docs = spark.createDataFrame(
        [(1, d1, "en"), (2, d2, "en"), (3, d3, "en"), (4, d4, "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=16, min_span=32
        ).collect()
    }
    assert got == {(1, 2): 40}


def test_shared_span_hot_gram_cap(spark):
    """max_gram_df: a gram present in every doc is excluded from
    discovery — the pair whose ONLY overlap rides that hot gram drops,
    while a pair with a cold long span keeps its exact length."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    hot = "HOTHOTHOTHOTHOTHOT"  # 18 chars -> 3 grams, shared by all
    cold = "coldspan_unique_0123456789_zzz_end"  # 34 chars
    docs = spark.createDataFrame(
        [
            (1, f"aaa.{hot}:one." + cold, "en"),
            (2, f"bbbbb,{hot};two:" + cold, "en"),
            (3, f"cc'{hot}" + '"three', "en"),
        ],
        "doc_id long, text string, lang string",
    )
    uncapped = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=16, min_span=16
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=16, min_span=16, max_gram_df=2
        ).collect()
    }
    assert (1, 3) in uncapped and (2, 3) in uncapped
    assert (1, 3) not in capped and (2, 3) not in capped  # hot-only overlap
    assert capped[(1, 2)] == uncapped[(1, 2)] == len(cold)


def test_containment_hot_shingle_cap(spark):
    """containment max_shingle_df: capped discovery, exact scores —
    survivors keep their uncapped containment values; a pair whose only
    overlap is hot drops."""
    from hadoop_common_spark.operators.dedup import containment_pairs

    hot = "every doc shares this"       # 2 shingles, in all docs
    docs = spark.createDataFrame(
        [
            (1, f"{hot} alpha beta gamma delta epsilon", "en"),
            (2, f"{hot} alpha beta gamma delta zeta", "en"),
            (3, f"{hot} totally different tail words", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    un = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(docs, "doc_id", "text", "lang", threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(
            docs, "doc_id", "text", "lang", threshold=0.3, max_shingle_df=2
        ).collect()
    }
    assert (1, 2) in capped and capped[(1, 2)] == un[(1, 2)]  # exact verify
    assert all(3 not in p for p in capped)  # hot-only overlap dropped


def test_shared_span_matches_python_lcs_bulk(spark):
    """Randomized bulk exactness: shared_span_pairs(k=4) must equal a
    Python longest-common-substring brute force on every pair — planted
    fragments, random tails, repeated substrings, short docs, all in one
    Spark job (hypothesis-style coverage without per-example job cost)."""
    import random
    from difflib import SequenceMatcher

    rng = random.Random(99)
    frags = ["".join(rng.choice("abcd") for _ in range(rng.randrange(6, 18))) for _ in range(6)]

    def mk_doc():
        parts = ["".join(rng.choice("abcdefgh") for _ in range(rng.randrange(0, 10)))]
        for _ in range(rng.randrange(0, 3)):
            parts.append(rng.choice(frags))
            parts.append("".join(rng.choice("abcdefgh") for _ in range(rng.randrange(0, 10))))
        return "".join(parts)

    docs = [(i, mk_doc(), "x") for i in range(40)]
    k, min_span = 4, 6
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            df, "doc_id", "text", "lang", k=k, min_span=min_span
        ).collect()
    }
    want = {}
    for i, (ia, ta, _) in enumerate(docs):
        for ib, tb, _ in docs[i + 1 :]:
            m = SequenceMatcher(None, ta, tb, autojunk=False).find_longest_match(
                0, len(ta), 0, len(tb)
            )
            if m.size >= min_span:
                want[(ia, ib)] = m.size
    assert got == want
    # the CAPPED path (r8 chunked double-explode) with a non-biting cap
    # must be bit-identical on the same randomized corpus
    capped = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            df, "doc_id", "text", "lang", k=k, min_span=min_span,
            max_gram_df=len(docs),
        ).collect()
    }
    assert capped == want


def test_shared_span_sub_k_docs_excluded(spark):
    """Docs shorter than k must produce NO grams (Spark's sequence(1,0)
    is [1,0] descending — without the length guard two identical sub-k
    docs would fabricate a span >= k)."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    docs = spark.createDataFrame(
        [(1, "same-short", "en"), (2, "same-short", "en"),
         (3, "x" * 40 + "SHAREDSPAN" * 4, "en"), (4, "y" * 7 + "SHAREDSPAN" * 4, "en")],
        "doc_id long, text string, lang string",
    )
    got = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=16, min_span=16
        ).collect()
    }
    assert (1, 2) not in got          # sub-k identical docs: no fabricated span
    assert got[(3, 4)] == 40          # real shared 40-char span still exact


def test_shared_span_capped_path_equals_join_path(spark):
    """The capped branch generates pairs ARRAY-SIDE (window filter ->
    collect per gram -> pair explode) while the uncapped branch is the
    a/b self-join — structurally different code whose outputs must be
    IDENTICAL whenever the cap doesn't bite (df <= cap everywhere).
    Random-ish corpus with within-doc repeated grams (position
    multiplicity) and df exactly at the cap boundary."""
    import random

    from hadoop_common_spark.operators.dedup import shared_span_pairs

    rng = random.Random(77)
    frag = "shared-fragment-0123456789abcdef-end"  # 36 chars
    rep = "xyxyxyxyxyxyxyxyxyxyxyxy"  # self-repetitive: grams repeat IN-doc
    rows = []
    for d in range(6):
        filler = "".join(rng.choice("qwertyuiop") for _ in range(20))
        # every doc carries frag (df == 6 == the cap boundary) and rep
        rows.append((d, f"{filler}.{frag}!{rep}#{filler[::-1]}", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    un = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=8, min_span=16
        ).collect()
    }
    # cap == 6 == every gram's df: nothing drops, outputs must be equal
    at_cap = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=8, min_span=16, max_gram_df=6
        ).collect()
    }
    assert at_cap == un and len(un) == 15  # all C(6,2) pairs share frag
    # cap == 5 < df: the shared fragment's grams all drop -> pairs whose
    # only >=16 span was frag/rep disappear entirely
    below = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=8, min_span=16, max_gram_df=5
        ).collect()
    }
    assert below == {}


def test_shared_span_capped_chunking_exceeds_chunk_size(spark):
    """The capped path chunks per-(gram,doc) position arrays into
    256-position sub-arrays (bounding every row's cross product at
    256x256 instead of the unbounded in-doc multiplicity that hit
    Spark's 2^31 single-array limit pre-r7). A doc whose one gram
    occurs FAR past the chunk size must still produce exactly the
    uncapped self-join's answer — runs crossing chunk boundaries are
    reassembled by the downstream (pair, diag) window, which never sees
    chunk structure."""
    from hadoop_common_spark.operators.dedup import shared_span_pairs

    # "ab" * 700: gram "abab" (k=4) occurs at every odd position —
    # ~699 occurrences per doc -> 3 chunks of 256. Two docs share the
    # entire 1400-char text -> max_span == 1400, spanning all chunks.
    rep = "ab" * 700
    docs = spark.createDataFrame(
        [(1, rep + "xxxx", "en"), (2, rep + "yyyy", "en"), (3, "unrelated-doc", "en")],
        "doc_id long, text string, lang string",
    )
    un = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=4, min_span=16
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.max_span
        for r in shared_span_pairs(
            docs, "doc_id", "text", "lang", k=4, min_span=16, max_gram_df=8
        ).collect()
    }
    assert capped == un == {(1, 2): 1400}
