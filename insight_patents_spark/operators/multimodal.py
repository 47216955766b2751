"""Multimodal (binary-column) operators — training-data-pipeline surface.

Images/audio/video are opaque `binary` columns with typed metadata; the
decode / feature-extract stage runs as Arrow-batched Python over
`mapInPandas`. The decode libraries (PIL/ffmpeg/...) are not in this
container, so the byte-level "decode" here is a deterministic feature
extractor (length, header byte, content digest) — the Spark-side
plumbing (binary schema, Arrow batch shape, mapInPandas signature,
partitioning) is real and is what carries over to actual decoders.

A genuine image resize/frame-sample stub (`mm_decode_stub`) shows the
gated-import pattern and raises NotImplementedError only inside the
clearly-marked library call.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.stable import round_dp
from ..registry import query
from ..sources.tables import load

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.LongType()),
        T.StructField("digest", T.StringType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 'decode': deterministic byte-level features.

    With a real decoder this is where PIL.Image.open(BytesIO(payload))
    would run; batch shape and output contract stay identical.
    """
    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype(
                    "int64"
                ),
                "digest": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
            }
        )


@query(
    "mm_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
           md5(text) AS digest
    FROM documents
    """,
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode pipeline: text → binary payload column →
    mapInPandas feature extraction (Arrow batches; the multimodal decode
    path). Features are deterministic byte functions so the oracle can
    reproduce them in SQL."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


@query(
    "mm_decode_stub",
    # The fallback "decode" is a deterministic byte-length function, so
    # (like mm_frame_sample) the oracle replays it exactly: the corpus is
    # pure ASCII (probed at sf0.01/0.1), so octet_length(encode(text)) ==
    # len(payload) and the fake dimensions are SQL-expressible. Upgraded
    # from rows-only in r4 — the gated-import path is unchanged.
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS width,
           CAST(octet_length(encode(text)) % 48 + 1 AS BIGINT) AS height,
           'fake' AS decoder
    FROM documents
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode plumbing with the real gated-import pattern: rows whose
    payload "decodes" get (width, height); the actual pixel decode is
    stubbed behind an import-try, falling back to a deterministic fake
    (metadata-derived dimensions). At deploy time only `_decode_image`
    changes."""

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("decoder", T.StringType()),
        ]
    )

    def _decode_image(payload: bytes) -> tuple[int, int, str]:
        try:
            import PIL.Image  # noqa: F401  (absent in this container)

            raise NotImplementedError(
                "real pixel decode not wired: container lacks image libs"
            )
        except ImportError:
            # deterministic fake: dimensions derived from the byte stream
            return len(payload) % 64 + 1, len(payload) % 48 + 1, "fake"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(_decode_image)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": decoded.map(lambda t: t[0]).astype("int64"),
                    "height": decoded.map(lambda t: t[1]).astype("int64"),
                    "decoder": decoded.map(lambda t: t[2]),
                }
            )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(run, schema=schema).orderBy("doc_id")


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("byte_off", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

_FRAME_BYTES = 16  # fixed-size "frame" window
_FRAME_STRIDE = 4  # keep every 4th frame


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame sampler: slice fixed-size byte windows out of
    the payload and keep every _FRAME_STRIDE-th one. With a real video
    decoder this is where ffmpeg would seek keyframes; the batch shape,
    fan-out (rows out >> rows in), and per-frame digest contract are the
    production plumbing."""
    import hashlib

    for pdf in batches:
        ids, idxs, offs, digests = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = len(payload) // _FRAME_BYTES
            for k, f in enumerate(range(0, n_frames, _FRAME_STRIDE)):
                off = f * _FRAME_BYTES
                ids.append(doc_id)
                idxs.append(k)
                offs.append(off)
                digests.append(
                    hashlib.md5(payload[off : off + _FRAME_BYTES]).hexdigest()
                )
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "byte_off": pd.Series(offs, dtype="int64"),
                "frame_md5": pd.Series(digests, dtype="object"),
            }
        )


@query(
    "mm_frame_sample",
    # Video-style frame sampling over a binary column: fixed 16-byte
    # frames, every 4th kept. The corpus text is pure ASCII (probed), so
    # byte slicing == char slicing and the oracle replays the digest
    # with substr+md5.
    oracle=f"""
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_idx,
           CAST(k * {_FRAME_STRIDE * _FRAME_BYTES} AS BIGINT) AS byte_off,
           md5(substr(text, CAST(k * {_FRAME_STRIDE * _FRAME_BYTES} + 1 AS BIGINT),
                      {_FRAME_BYTES})) AS frame_md5
    FROM documents,
         LATERAL (SELECT unnest(range(0, (len(text) // {_FRAME_BYTES}
                                          + {_FRAME_STRIDE} - 1) // {_FRAME_STRIDE}))
                  AS k)
    WHERE len(text) >= {_FRAME_BYTES}
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: binary payload → mapInPandas that
    windows the byte stream into fixed-size frames and keeps a strided
    subset, emitting per-frame digests (row fan-out, the multimodal
    extract shape). Deterministic byte slicing stands in for the decoder
    so the oracle can verify every frame digest in SQL.

    Plan: narrow mapInPandas (no shuffle); output rows ≈ n_bytes /
    (frame × stride) per doc — the fan-out stays inside the Arrow batch.
    At 100 TB the binary column streams through Python workers batch-at-
    a-time; partition sizing is controlled upstream by the scan's
    maxPartitionBytes, not by driver logic."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(_sample_frames, schema=_FRAME_SCHEMA)


_PHASH_PIXELS = 60  # 60-bit fingerprint (bit 63 avoided: signed int64)
_PHASH_BANDS = 4  # 4 x 15-bit multi-index bands
_PHASH_MAX_HD = 8
# Band-bucket occupancy above which the self-join switches to the
# skew-salted path: a bucket of b docs puts b² candidate rows on ONE
# reducer; 2048² ≈ 4M rows/task is the tolerable ceiling. The salted
# join's pair set is provably identical (salted_band_pairs contract).
_PHASH_SALT_OCCUPANCY = 2048
_PHASH_SALTS = 8


@query(
    "mm_phash_dedup",
    # Perceptual-hash near-duplicate search over a binary column, the
    # image-dedup pipeline shape: decode -> 60-"pixel" average-hash
    # (bit_i = 60*p_i > sum p, integer-exact in both engines) -> 4x15-bit
    # multi-index bands (any band equal => candidate; guarantees every
    # pair within hamming 3 collides) -> exact bit_count verify <= 8.
    # The deterministic "decode" is utf-8 codepoints of the first 60
    # chars (ord() in DuckDB = Python ord() — the container has no image
    # codecs; a real pHash swaps only the pixel extractor).
    oracle=f"""
    WITH px AS (
      SELECT doc_id, list_transform(range(1, {_PHASH_PIXELS + 1}), i ->
        CASE WHEN i <= len(text) THEN ord(substr(text, CAST(i AS INT), 1))
             ELSE 0 END) AS p
      FROM documents
    ),
    sums AS (SELECT doc_id, list_aggregate(p, 'sum') AS s, p FROM px),
    h AS (
      SELECT doc_id,
        list_aggregate(list_transform(range(1, {_PHASH_PIXELS + 1}), i ->
          CASE WHEN {_PHASH_PIXELS}*p[i] > s
               THEN 1::BIGINT << CAST(i-1 AS INT) ELSE 0 END), 'sum') AS ph
      FROM sums
    ),
    b AS (
      SELECT doc_id, ph, band,
             (ph >> CAST(band*15 AS INT)) & 32767 AS bv
      FROM h CROSS JOIN (SELECT unnest(range(0, {_PHASH_BANDS})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             bit_count(xor(a.ph, b2.ph)) AS hamming
      FROM b a JOIN b b2
        ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
    FROM cand WHERE hamming <= {_PHASH_MAX_HD}
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image search by perceptual hash — the multimodal
    dedup pipeline: binary payload -> Arrow-batched decode + average-hash
    fingerprint (mapInPandas; a real deployment swaps the codepoint
    extractor for PIL grayscale pixels, everything downstream unchanged)
    -> multi-index hamming search: 4 x 15-bit bands of the 60-bit hash,
    any equal band makes a candidate (guaranteeing no pair within
    hamming 3 is missed — the multi-index-hashing pigeonhole), exact
    bit_count(xor) verifies <= 8.

    Scale shape: fingerprints are one narrow Python batch pass
    (transfer O(N x payload), output 2 ints per doc); the band self-join
    is an equi-join on (band, value) — never all-pairs; candidates
    dedup once, verification is two bitops per pair. Degenerate bands
    (e.g. all-zero from uniform payloads) are the hot-key risk; the
    path selection is WIRED (r10): one cheap occupancy agg over the
    band table (a scalar fetch, like the vocab-size stats job) picks
    the plain equi-join below _PHASH_SALT_OCCUPANCY and
    text.salted_band_pairs above it — pair set provably identical
    (tests: the adversarial all-one-band fixture gates the salted
    kernel, and test_phash_salted_path_equals_plain forces this
    operator down the salted path and asserts set equality on the real
    corpus). The registered corpora stay on the plain join (max bucket
    occupancy measured far below the cap). The fingerprint table is
    checkpointed, so the Arrow pass runs ONCE (not once per join side
    plus once for the occupancy agg)."""
    import hashlib  # noqa: F401  (parity with module header)

    d = load(spark, sf_dir, "documents")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for raw in pdf["payload"]:
                chars = bytes(raw).decode("utf-8")[:_PHASH_PIXELS]
                p = [ord(c) for c in chars] + [0] * (_PHASH_PIXELS - len(chars))
                s = sum(p)
                ph = 0
                for i, v in enumerate(p):
                    if _PHASH_PIXELS * v > s:
                        ph |= 1 << i
                hashes.append(ph)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "ph": pd.Series(hashes, dtype="int64"),
                }
            )

    h = payload.mapInPandas(
        fingerprint, "doc_id long, ph long"
    ).localCheckpoint()
    bands = h.select(
        "doc_id",
        "ph",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftrightunsigned(ph, {k * 15}) & 32767")
                    for k in range(_PHASH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    # band-occupancy-driven path selection (SCALE.md §4): one scalar
    # stats fetch over the band table decides whether any bucket's
    # quadratic fan-out would concentrate on one reducer.
    occ = (
        bands.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .first()[0]
    )
    if occ is not None and occ > _PHASH_SALT_OCCUPANCY:
        from .text import salted_band_pairs

        cand = (
            salted_band_pairs(
                bands.select(
                    "doc_id",
                    F.col("band").alias("band_id"),
                    F.col("bv").alias("band_key"),
                    "ph",
                ),
                _PHASH_SALTS,
                carry=("ph",),
            )
            .select(
                "doc_a",
                "doc_b",
                F.bit_count(F.expr("a_ph ^ b_ph"))
                .cast("int")
                .alias("hamming"),
            )
            .distinct()
        )
    else:
        cand = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.expr("a.ph ^ b.ph"))
                .cast("int")
                .alias("hamming"),
            )
            .distinct()
        )
    return cand.filter(F.col("hamming") <= _PHASH_MAX_HD)


_XM_DIM = 8  # surrogate cross-modal embedding width (md5 → 8 uint16 lanes)
_XM_QMOD = 20  # query probe set: text vectors with vec_id % 20 == 3


_XM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("iv", T.ArrayType(T.DoubleType())),
    ]
)


def _encode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 'image encoder' for mm_crossmodal_topk: with a real
    model this is where a CLIP vision tower would embed the decoded
    pixels; the container has neither decoder nor weights, so the
    surrogate derives an 8-lane embedding from md5 of the payload —
    lane j = (uint16(md5hex[4j:4j+4]) + 0.5)/65536 − 0.5, every step
    exact in both engines (power-of-two division, half offsets)."""
    import hashlib

    def enc(b: bytes) -> list[float] | None:
        if b is None:  # defensive: callers filter NULLs, but a swap-in
            return None  # encoder must not crash the executor on one
        h = hashlib.md5(b).hexdigest()
        return [
            (int(h[4 * j : 4 * j + 4], 16) + 0.5) / 65536.0 - 0.5
            for j in range(_XM_DIM)
        ]

    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "iv": pdf["payload"].map(enc)}
        )


@query(
    "mm_crossmodal_topk",
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             list_transform(range(0, {_XM_DIM}), j ->
               (CAST('0x' || substr(md5(text), j * 4 + 1, 4) AS BIGINT) + 0.5)
                 / 65536.0 - 0.5) AS iv
      FROM documents WHERE text IS NOT NULL),
    q AS (
      SELECT vec_id,
             list_transform((CAST(embedding AS DOUBLE[]))[1:{_XM_DIM}],
                            x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id % {_XM_QMOD} = 3)
    SELECT vec_id, doc_id, score
    FROM (
      SELECT q.vec_id, img.doc_id,
             list_dot_product(q.qv, img.iv) AS score,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY ROUND(list_dot_product(q.qv, img.iv), 9) DESC,
                                         img.doc_id) AS rn
      FROM q CROSS JOIN img
    ) WHERE rn <= 3
    """,
)
def mm_crossmodal_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval plumbing (CLIP-style text→image search):
    the binary payload column runs through an Arrow-batched mapInPandas
    'vision encoder' (md5-derived surrogate — the gated-model pattern of
    mm_decode_stub/vec_rerank_stub; swap `_encode_image_batches` for a
    real tower at deploy time), text queries project to the matching
    width by matryoshka prefix-slicing their first 8 dims, and retrieval
    is the vec_mips posture: the probe batch BROADCASTS with its query
    vectors into one narrow |probes|×N scoring pass over the item
    partitions — items never shuffle, score is the sequential `_dot`
    fold (= DuckDB list_dot_product bit-for-bit), top-3 per query by
    (rounded score, doc_id). At 100 TB the encoder pass is
    embarrassingly parallel over item partitions and the only exchange
    is the per-query window on |probes|·3 rows."""
    d = (
        load(spark, sf_dir, "documents")
        # NULL payloads never reach the encoder (ADVICE r10: a real
        # corpus has them routinely; md5(None) would crash the executor
        # while the SQL side yields NULL lanes — filter BOTH sides so a
        # null-text document simply isn't a retrievable item). The
        # predicate pushes to the parquet scan.
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        # fan the Arrow-batched encoder + broadcast scoring pass out of
        # the single input split — "embarrassingly parallel over item
        # partitions" needs more than ONE item partition (guide §2.5)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    items = d.mapInPandas(_encode_image_batches, schema=_XM_SCHEMA)
    q = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _XM_QMOD == 3)
        .select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, 1, {_XM_DIM}), x -> CAST(x AS DOUBLE))"
            ).alias("qv"),
        )
    )
    scored = items.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "doc_id",
        F.expr(
            "aggregate(zip_with(qv, iv, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(
        round_dp("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "doc_id", "score")
    )
