"""Multimodal columns: opaque binary payloads + typed metadata (NS mandate).

The pattern for image/audio/video at 100 TB: the payload travels as a
`binary` column next to typed metadata; decode / feature-extract runs as an
Arrow-batched `mapInPandas` over the binary column, emitting a typed schema.

The actual media decode is STUBBED here (image/audio libraries are not in
this container): `decode_batch` computes a deterministic fake
width/height/format from the payload bytes, and raises
`NotImplementedError` if a real codec is requested. Everything around the
stub — binary column handling, Arrow batch shape (pdf of bytes), schema
declaration, partition-preserving mapInPandas — is the real production
plumbing and is oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t, unique_docs


@query(
    "q_multimodal",
    oracle="""
SELECT d.doc_id, d.lang, d.source, e.label,
       CAST(len(e.embedding) AS INT) AS dim,
       CAST(strlen(d.text) AS INT) AS payload_len,
       md5(d.text) AS payload_md5
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bundle text + embedding + metadata into one struct-typed multimodal
    column (text stands in for the opaque payload), then project typed
    fields back out — the schema shape a mixed-modality training table uses."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    bundled = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.encode("text", "UTF-8").alias("payload"),
            F.col("embedding"),
            F.struct("lang", "source", "n_chars", "label").alias("meta"),
        ).alias("content"),
    )
    return bundled.select(
        "doc_id",
        F.col("content.meta.lang").alias("lang"),
        F.col("content.meta.source").alias("source"),
        F.col("content.meta.label").alias("label"),
        F.size("content.embedding").alias("dim"),
        F.octet_length("content.payload").alias("payload_len"),
        F.md5("content.payload").alias("payload_md5"),
    )


# BIGINT, not INT: these columns are nullable (quarantined NULL payloads),
# and nullable ints must be BIGINT on both engines (CLAUDE.md dtype rule)
DECODE_SCHEMA = "doc_id bigint, payload_len bigint, width bigint, height bigint, format string"


def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 'decode' over binary payloads.

    Deterministic fake decode: dimensions derived from payload length.
    A real codec slots in here unchanged (bytes in → typed columns out).
    A NULL payload is QUARANTINED, not fatal: the row survives with NULL
    decode outputs (probe_nulls class 5 — one missing object must not
    kill a 100 TB decode stage)."""
    import numpy as np

    for pdf in batches:
        n = pdf["payload"].str.len()  # NaN marks a NULL payload
        ok = n.notna().to_numpy()
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload_len": n.astype("Int64"),
                "width": (n % 64).astype("Int64"),
                "height": ((n * 7) % 64).astype("Int64"),
                "format": np.where(ok, "fake/v1", None),
            }
        )


def pil_available() -> bool:
    """True when a real image codec (Pillow) is importable. q_mm_decode_real
    registers only then — same conditional pattern as q_source_avro
    (sources/formats.py). This container has no PIL; the probe keeps the
    real path one `pip install pillow` away from active."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _pil_png_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode one real PNG per doc (dims derived from doc_id) — the
    synthesizing half of the real-codec round trip."""
    import io

    from PIL import Image

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            w, h = int(doc_id) % 64 + 1, (int(doc_id) * 7) % 64 + 1
            buf = io.BytesIO()
            Image.new("RGB", (w, h), (doc_id % 256, 0, 0)).save(buf, format="PNG")
            payloads.append(buf.getvalue())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def _pil_decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode real image bytes with Pillow: bytes in → typed dims out —
    the exact slot decode_batch stubs."""
    import io

    from PIL import Image

    for pdf in batches:
        rows = {"doc_id": [], "payload_len": [], "width": [], "height": [], "format": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with Image.open(io.BytesIO(payload)) as img:
                rows["doc_id"].append(doc_id)
                rows["payload_len"].append(len(payload))
                rows["width"].append(img.width)
                rows["height"].append(img.height)
                rows["format"].append(img.format)
        out = pd.DataFrame(rows)
        out["payload_len"] = out["payload_len"].astype("int32")
        out["width"] = out["width"].astype("int32")
        out["height"] = out["height"].astype("int32")
        yield out


if pil_available():

    @query(
        "q_mm_decode_real",
        oracle="""
SELECT doc_id,
       CAST(doc_id % 64 + 1 AS INT) AS width,
       CAST((doc_id * 7) % 64 + 1 AS INT) AS height,
       'PNG' AS format
FROM documents
""",
    )
    def q_mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
        """REAL codec round trip (registers only when Pillow imports):
        synthesize a PNG per document (dims a pure function of doc_id),
        then decode the bytes back through the same mapInPandas slot the
        stub uses. The oracle states the dims arithmetically — agreement
        proves actual encode/decode ran, not the fake."""
        d = t(spark, sf_dir, "documents").select("doc_id")
        with_png = d.mapInPandas(_pil_png_batch, schema="doc_id bigint, payload binary")
        return with_png.mapInPandas(
            _pil_decode_batch,
            schema="doc_id bigint, payload_len int, width int, height int, format string",
        ).select("doc_id", "width", "height", "format")


@query(
    "q_mm_decode",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS payload_len,
       CAST(strlen(text) % 64 AS BIGINT) AS width,
       CAST((strlen(text) * 7) % 64 AS BIGINT) AS height,
       CASE WHEN text IS NOT NULL THEN 'fake/v1' END AS format
FROM documents
""",
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline: documents → binary payload column →
    Arrow batches → typed (width, height, format) rows. The oracle states
    the stub's arithmetic directly — proving the Spark-side plumbing
    (binary handling, batch iteration, schema) end to end. The payload is
    the UTF-8 ENCODING of text, so every length in the decode family's
    oracles is strlen (bytes), not length (codepoints) — they differ on
    non-ASCII text (tests/test_edge_unicode.py)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(decode_batch, schema=DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"


def frame_sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling stub: one row per 'frame', count derived from payload
    length (a real video decoder yields the same shape: doc_id × frame)."""
    import hashlib

    for pdf in batches:
        rows = {"doc_id": [], "frame_idx": [], "frame_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:  # nothing to sample from a missing payload
                continue
            n_frames = len(payload) % 5 + 1
            for i in range(1, n_frames + 1):
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(i)
                rows["frame_md5"].append(
                    hashlib.md5(payload + b":" + str(i).encode()).hexdigest()
                )
        out = pd.DataFrame(rows)
        out["frame_idx"] = out["frame_idx"].astype("int32")
        yield out


@query(
    "q_mm_frames",
    oracle="""
WITH nums AS (SELECT unnest(generate_series(1, 5)) AS i)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       md5(text || ':' || CAST(i AS VARCHAR)) AS frame_md5
FROM documents, nums
WHERE i <= strlen(text) % 5 + 1
""",
)
def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-payload→many-frames via mapInPandas (the video frame-sampling
    shape): binary in, typed frame rows out, row count data-dependent."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(frame_sample_batch, schema=FRAME_SCHEMA)


def decode_batch_arrow(batches):
    """Same decode stub at the Arrow layer (mapInArrow): zero pandas
    overhead, RecordBatch in → RecordBatch out. The right extension point
    when the payload transform is itself Arrow-native (tokenizers, image
    libs with Arrow bindings)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import numpy as np

    for batch in batches:
        lens = pc.binary_length(batch.column("payload"))
        # NULL payloads quarantine to NULL outputs (probe_nulls class 5):
        # compute on zero-filled values, carry the null mask through
        null_mask = pc.is_null(lens).to_numpy(zero_copy_only=False)
        n = pc.fill_null(lens, 0).to_numpy().astype("int64")
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array(n, mask=null_mask),
                pa.array(n % 64, mask=null_mask),
                pa.array((n * 7) % 64, mask=null_mask),
                # type= is load-bearing: an all-NULL batch would otherwise
                # infer pa.null() and break the declared string schema
                pa.array(np.where(null_mask, None, "fake/v1"), type=pa.string()),
            ],
            names=["doc_id", "payload_len", "width", "height", "format"],
        )


@query(
    "q_mm_decode_arrow",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS payload_len,
       CAST(strlen(text) % 64 AS BIGINT) AS width,
       CAST((strlen(text) * 7) % 64 AS BIGINT) AS height,
       CASE WHEN text IS NOT NULL THEN 'fake/v1' END AS format
FROM documents
""",
)
def q_mm_decode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow variant of the decode pipeline — same contract as
    q_mm_decode, RecordBatch-level (no pandas materialization)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInArrow(decode_batch_arrow, schema=DECODE_SCHEMA)


# BIGINT for the same reason as DECODE_SCHEMA: nullable under quarantined
# NULL payloads
RESIZE_SCHEMA = "doc_id bigint, width bigint, height bigint, thumb_w bigint, thumb_h bigint, thumb_md5 string"


def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Thumbnail stub: halve the (fake-decoded) dimensions and checksum the
    payload+target — a real resampler slots in at the md5 line (bytes +
    target dims in → thumbnail bytes out), everything else unchanged."""
    import hashlib

    for pdf in batches:
        n = pdf["payload"].str.len()  # NaN marks a NULL payload (quarantined)
        w = n % 64
        h = (n * 7) % 64
        tw, th = w // 2, h // 2
        md5s = [
            hashlib.md5(p + f":{int(a)}x{int(b)}".encode()).hexdigest()
            if p is not None
            else None
            for p, a, b in zip(pdf["payload"], tw, th)
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w.astype("Int64"),
                "height": h.astype("Int64"),
                "thumb_w": tw.astype("Int64"),
                "thumb_h": th.astype("Int64"),
                "thumb_md5": md5s,
            }
        )


@query(
    "q_mm_resize",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) % 64 AS BIGINT) AS width,
       CAST((strlen(text) * 7) % 64 AS BIGINT) AS height,
       CAST((strlen(text) % 64) // 2 AS BIGINT) AS thumb_w,
       CAST(((strlen(text) * 7) % 64) // 2 AS BIGINT) AS thumb_h,
       md5(text || ':' || CAST((strlen(text) % 64) // 2 AS VARCHAR)
                || 'x' || CAST(((strlen(text) * 7) % 64) // 2 AS VARCHAR)) AS thumb_md5
FROM documents
""",
)
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→resize stage of an image pipeline as mapInPandas: payload in,
    halved-resolution thumbnail descriptor + content checksum out. The
    oracle restates the stub arithmetic, pinning the batch plumbing."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return d.mapInPandas(resize_batch, schema=RESIZE_SCHEMA)


FEATURE_SCHEMA = (
    "doc_id bigint, f_ag double, f_hn double, f_ou double, f_vz double, n_alpha bigint"
)


def feature_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Feature extraction stub: a 4-bucket character-class histogram over
    the payload, L1-normalized — the byte-histogram shape a real extractor
    (CLIP embedding, MFCC, color histogram) produces, vectorized per
    Arrow batch with no per-row Python beyond the regex counts."""
    for pdf in batches:
        # NULL payloads decode to None → NaN counts → NULL n_alpha, which
        # the registered query's n_alpha > 0 filter drops (class 5)
        text = pdf["payload"].map(lambda b: b.decode("utf-8") if b is not None else None)
        counts = {
            "f_ag": text.str.count("[a-g]"),
            "f_hn": text.str.count("[h-n]"),
            "f_ou": text.str.count("[o-u]"),
            "f_vz": text.str.count("[v-z]"),
        }
        total = sum(counts.values())
        out = {"doc_id": pdf["doc_id"]}
        for k, v in counts.items():
            # raw ratio; rounding happens JVM-side (F.round = SQL half-up,
            # matching DuckDB ROUND — pandas .round is banker's and differs
            # on exact .5 cases like 87/384)
            out[k] = v / total
        out["n_alpha"] = total.astype("Int64")
        yield pd.DataFrame(out)


@query(
    "q_mm_features",
    oracle="""
WITH c AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[^a-g]', '', 'g')) AS BIGINT) AS ag,
         CAST(length(regexp_replace(text, '[^h-n]', '', 'g')) AS BIGINT) AS hn,
         CAST(length(regexp_replace(text, '[^o-u]', '', 'g')) AS BIGINT) AS ou,
         CAST(length(regexp_replace(text, '[^v-z]', '', 'g')) AS BIGINT) AS vz
  FROM documents)
SELECT doc_id,
       ROUND(ag / (ag + hn + ou + vz), 6) AS f_ag,
       ROUND(hn / (ag + hn + ou + vz), 6) AS f_hn,
       ROUND(ou / (ag + hn + ou + vz), 6) AS f_ou,
       ROUND(vz / (ag + hn + ou + vz), 6) AS f_vz,
       ag + hn + ou + vz AS n_alpha
FROM c WHERE ag + hn + ou + vz > 0
""",
)
def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload→feature-vector stage as mapInPandas: 4-bucket normalized
    char-class histogram per document (stand-in for any per-item embedding
    extractor); output is a typed feature row ready to join against the
    embeddings table."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    raw = d.mapInPandas(feature_batch, schema=FEATURE_SCHEMA).filter(
        F.col("n_alpha") > 0  # an all-symbol payload has no histogram
    )
    return raw.select(
        "doc_id",
        *[F.round(c, 6).alias(c) for c in ("f_ag", "f_hn", "f_ou", "f_vz")],
        "n_alpha",
    )


# ---------------------------------------------------------------------------
# REAL codec round trip (pure-Python PNG, no PIL) — see operators/png_py.py
# ---------------------------------------------------------------------------

PNG_W, PNG_H = 16, 16


def _pm(expr: str, m: int) -> str:
    """pmod for oracle SQL: Python's % (the pixel/sample generators) is
    always non-negative, DuckDB's keeps the dividend's sign — a negative
    doc_id (edge_negatives corpus) diverges without the wrap."""
    return f"((({expr}) % {m}) + {m}) % {m}"


@query(
    "q_mm_png_roundtrip",
    oracle=f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) d,
       (SELECT unnest(generate_series(0, {PNG_W - 1})) AS x) x,
       (SELECT unnest(generate_series(0, {PNG_H - 1})) AS y) y)
SELECT doc_id, CAST({PNG_W} AS INT) AS width, CAST({PNG_H} AS INT) AS height,
       CAST(SUM({_pm("doc_id * 7 + x + y", 256)}) AS BIGINT) AS sum_r,
       CAST(SUM({_pm("doc_id * 13 + 2 * x + y", 256)}) AS BIGINT) AS sum_g,
       CAST(SUM({_pm("doc_id * 31 + x + 3 * y", 256)}) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def q_mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec round trip with zero third-party dependencies: per
    document, build a 16×16 RGB image from a closed-form pixel formula,
    encode it to genuine PNG bytes (pure-Python codec, png_py.py, filter
    type = doc_id % 5 so every scanline filter — None/Sub/Up/Average/
    Paeth — is exercised somewhere in the corpus), decode it back, and
    report channel sums from the DECODED bytes. The DuckDB oracle computes
    the same sums ANALYTICALLY from the formula — it never sees a PNG — so
    any off-spec drift in the encoder's forward filter or the decoder's
    reconstruction breaks parity. Runs as Arrow-batched mapInPandas over
    the doc_id column: embarrassingly parallel, the exact decode-stage
    shape of a real multimodal pipeline (binary in, typed features out),
    with the codec swapped from stub to real."""
    from collections.abc import Iterator

    from kinesis_test_spark.operators.png_py import decode_png, encode_png

    d = unique_docs(
        spark,
        sf_dir,
        cols=["doc_id"],
        partitions=spark.sparkContext.defaultParallelism,
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                pix = bytes(
                    (
                        (doc_id * 7 + x + y) % 256,
                        (doc_id * 13 + 2 * x + y) % 256,
                        (doc_id * 31 + x + 3 * y) % 256,
                    )[c]
                    for y in range(PNG_H)
                    for x in range(PNG_W)
                    for c in range(3)
                )
                png = encode_png(pix, PNG_W, PNG_H, filter_type=doc_id % 5)
                w, h, out = decode_png(png)
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        sum(out[0::3]),
                        sum(out[1::3]),
                        sum(out[2::3]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "sum_r", "sum_g", "sum_b"]
            )

    return d.mapInPandas(
        roundtrip,
        "doc_id long, width int, height int, sum_r long, sum_g long, sum_b long",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# REAL audio container round trip (pure-Python WAV) — see operators/wav_py.py
# ---------------------------------------------------------------------------

WAV_N = 256  # samples per clip


@query(
    "q_mm_wav_features",
    oracle=f"""
WITH s AS (
  SELECT d.doc_id, {_pm("d.doc_id * 37 + i.i * i.i", 2048)} - 1024 AS sample
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) d,
       (SELECT unnest(generate_series(0, {WAV_N - 1})) AS i) i)
SELECT doc_id, CAST({WAV_N} AS INT) AS n_samples,
       CAST(MAX(abs(sample)) AS BIGINT) AS peak,
       CAST(SUM(abs(sample)) AS BIGINT) AS sum_abs
FROM s GROUP BY doc_id ORDER BY doc_id
""",
)
def q_mm_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container round trip (wav_py.py — RIFF framing, PCM16):
    per document, synthesize a 256-sample clip from an integer formula,
    encode to genuine WAV bytes, decode back, and report waveform features
    (peak, total magnitude) from the DECODED samples. The DuckDB oracle
    computes the same features analytically from the formula — framing or
    sample-packing drift on either side breaks parity. Arrow-batched
    mapInPandas, embarrassingly parallel: the feature-extraction stage
    shape of an audio pipeline with the codec swapped from stub to real."""
    from collections.abc import Iterator

    from kinesis_test_spark.operators.wav_py import decode_wav, encode_wav

    d = unique_docs(
        spark,
        sf_dir,
        cols=["doc_id"],
        partitions=spark.sparkContext.defaultParallelism,
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                clip = [
                    (doc_id * 37 + i * i) % 2048 - 1024 for i in range(WAV_N)
                ]
                _rate, out = decode_wav(encode_wav(clip))
                rows.append(
                    (
                        doc_id,
                        len(out),
                        max(abs(s) for s in out),
                        sum(abs(s) for s in out),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "n_samples", "peak", "sum_abs"])

    return d.mapInPandas(
        roundtrip, "doc_id long, n_samples int, peak long, sum_abs long"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# multi-frame packed-PNG container (video-like payload, real codec per frame)
# ---------------------------------------------------------------------------

PACK_FRAMES = 4


@query(
    "q_mm_framepack",
    oracle=f"""
WITH px AS (
  SELECT d.doc_id, f.f, x.x, y.y
  FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL) d,
       (SELECT unnest(generate_series(0, {PACK_FRAMES - 1})) AS f) f,
       (SELECT unnest(generate_series(0, {PNG_W - 1})) AS x) x,
       (SELECT unnest(generate_series(0, {PNG_H - 1})) AS y) y)
SELECT doc_id, CAST({PACK_FRAMES} AS INT) AS n_frames,
       CAST(SUM({_pm("doc_id * 7 + f * 11 + x + y", 256)}) AS BIGINT) AS sum_r,
       CAST(SUM({_pm("doc_id * 13 + f * 17 + 2 * x + y", 256)}) AS BIGINT) AS sum_g,
       CAST(SUM({_pm("doc_id * 31 + f * 23 + x + 3 * y", 256)}) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def q_mm_framepack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-like multimodal payload with a REAL codec per frame: four
    16×16 PNG frames packed into one length-prefixed binary blob per
    document (the frame-container shape a video pipeline carries), then
    unpacked, each frame decoded through the pure-Python PNG codec
    (png_py.py — frame index rotates the scanline filter, so all five
    filter paths run per document), and per-document channel totals
    reported from the DECODED pixels. The DuckDB oracle computes the same
    totals analytically across the doc × frame × pixel grid — any drift
    in the container framing, the per-frame codec, or the unpack loop
    breaks parity. Arrow-batched mapInPandas, parallel per doc batch."""
    import struct
    from collections.abc import Iterator

    from kinesis_test_spark.operators.png_py import decode_png, encode_png

    d = unique_docs(
        spark,
        sf_dir,
        cols=["doc_id"],
        partitions=spark.sparkContext.defaultParallelism,
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                blob = bytearray()
                for f in range(PACK_FRAMES):
                    pix = bytes(
                        (
                            (doc_id * 7 + f * 11 + x + y) % 256,
                            (doc_id * 13 + f * 17 + 2 * x + y) % 256,
                            (doc_id * 31 + f * 23 + x + 3 * y) % 256,
                        )[c]
                        for y in range(PNG_H)
                        for x in range(PNG_W)
                        for c in range(3)
                    )
                    png = encode_png(pix, PNG_W, PNG_H, filter_type=(doc_id + f) % 5)
                    blob += struct.pack(">I", len(png)) + png
                # unpack + decode from the container bytes only
                pos, n_frames = 0, 0
                sr = sg = sb = 0
                while pos < len(blob):
                    (ln,) = struct.unpack_from(">I", blob, pos)
                    pos += 4
                    _w, _h, out = decode_png(bytes(blob[pos : pos + ln]))
                    pos += ln
                    n_frames += 1
                    sr += sum(out[0::3])
                    sg += sum(out[1::3])
                    sb += sum(out[2::3])
                rows.append((doc_id, n_frames, sr, sg, sb))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "sum_r", "sum_g", "sum_b"]
            )

    return d.mapInPandas(
        roundtrip, "doc_id long, n_frames int, sum_r long, sum_g long, sum_b long"
    ).orderBy("doc_id")
