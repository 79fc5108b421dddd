"""Standing pins for s_dedup_near (streaming MinHash near-dup gate) and
q_index_versioned (tablelog-persisted SQ8 index) — round 14.

The parity suite already proves both keys against their oracles on the
clean fixture; these pins plant the behavior the keys EXIST for:
 * a near-duplicate arriving after its original is DROPPED (band
   collision), the original stays kept;
 * a sub-3-word doc carries no near-dup evidence and is kept;
 * the versioned index honors snapshot isolation (rebuild removes the
   old generation from the latest view; time travel still serves it;
   an uncommitted orphan file is invisible) and the persisted codes
   round-trip byte-exactly.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

BASE_TEXT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)
# one word changed at the END: the leading 3-gram shingles (and so most
# minhash minima) are shared -> at least one band collides
NEAR_TEXT = BASE_TEXT.rsplit(" ", 1)[0] + " zulu"


def plant_near_dups(src: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)
    docs = pq.read_table(dest / "documents.parquet")
    extra = pa.table(
        {
            "doc_id": [98400001, 98400002, 98400003],
            "text": [BASE_TEXT, NEAR_TEXT, "two words"],
            "lang": ["en"] * 3,
            "source": ["neardup"] * 3,
            "n_chars": [len(BASE_TEXT), len(NEAR_TEXT), 9],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), dest / "documents.parquet")


@pytest.fixture(scope="module")
def near_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("near_sf")
    plant_near_dups(SF_SRC, d)
    return str(d)


def test_near_gate_drops_the_later_near_duplicate(spark, near_sf_dir):
    from kinesis_test_spark import registry

    registry.load_all()
    rows = {
        r["doc_id"]: r.asDict()
        for r in registry.QUERIES["s_dedup_near"](spark, near_sf_dir).collect()
    }
    base, near, tiny = rows[98400001], rows[98400002], rows[98400003]
    # the earlier (smaller-id) original keeps every band it claims against
    # the planted pair; the later near-duplicate loses at least one band
    assert near["n_lost"] >= 1 and near["kept"] is False
    assert base["kept"] is True
    # < 3 words -> no shingles -> no signature -> unconditionally kept
    assert tiny["kept"] is True and tiny["n_bands"] == 0


def test_near_gate_parity_on_planted_corpus(spark, near_sf_dir):
    problems = check_query(spark, near_sf_dir, "s_dedup_near")
    assert not problems, problems


def test_index_versioned_isolation_and_roundtrip(spark, tmp_path):
    """The tablelog isolation properties the versioned index relies on,
    pinned on the index relation itself (not just via parity): rebuild
    hides the old generation from the latest snapshot, time travel still
    serves it, an uncommitted orphan is invisible, and the persisted
    codes round-trip exactly."""
    from kinesis_test_spark.operators.similarity import _sq8_codes, _vectors
    from kinesis_test_spark.sources.formats import _land_single
    from kinesis_test_spark.sources.tablelog import commit, live_files, schema_ddl

    tdir = tmp_path / "index"
    tdir.mkdir()
    v = _vectors(spark, SF_SRC).select("vec_id", "e")
    g1 = _sq8_codes(v.filter("vec_id % 2 = 0"))
    g2 = _sq8_codes(v)
    _land_single(g1, tdir / "codes_g1.parquet")
    commit(tdir, adds=["codes_g1.parquet"], removes=[],
           schema=[["vec_id", "BIGINT"], ["codes", "ARRAY<INT>"], ["s", "DOUBLE"]])
    _land_single(g2, tdir / "codes_g2.parquet")
    commit(tdir, adds=["codes_g2.parquet"], removes=["codes_g1.parquet"])
    # an uncommitted orphan never appears in any snapshot
    (tdir / "codes_orphan.parquet").write_bytes(b"not a commit")

    assert [Path(f).name for f in live_files(tdir)] == ["codes_g2.parquet"]
    assert [Path(f).name for f in live_files(tdir, 0)] == ["codes_g1.parquet"]

    def read(version):
        return spark.read.schema(schema_ddl(tdir, version)).parquet(
            *live_files(tdir, version)
        )

    # persisted codes round-trip exactly against the directly-computed
    # relations (sort by vec_id for a deterministic compare)
    for back, direct in ((read(None), g2), (read(0), g1)):
        got = [tuple(r) for r in back.orderBy("vec_id").collect()]
        want = [tuple(r) for r in direct.orderBy("vec_id").collect()]
        assert got == want and len(got) > 0


def test_index_versioned_shared_scale_matches_per_generation_codes(spark):
    """r15 optimization pin: q_index_versioned now computes both
    generations' scales in ONE aggregate and builds codes via
    _sq8_codes_from_scale (landed concurrently). The relation must be
    row-identical to the serial per-generation _sq8_codes form for both
    scopes — the conditional max over the full relation equals the max
    over the filtered relation, and the quantize expression is shared."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.operators.similarity import (
        _sq8_codes,
        _sq8_codes_from_scale,
        _vectors,
    )

    v = _vectors(spark, SF_SRC).select("vec_id", "e")
    val = v.filter(F.col("e").isNotNull())
    maxabs = F.array_max(F.transform("e", F.abs))
    scales = val.agg(
        F.max(F.when(F.expr("vec_id % 2 = 0"), maxabs)).alias("s_g1"),
        F.max(maxabs).alias("s_g2"),
    )
    pairs = (
        (_sq8_codes(v.filter("vec_id % 2 = 0")),
         _sq8_codes_from_scale(val.filter(F.expr("vec_id % 2 = 0")), scales, "s_g1")),
        (_sq8_codes(v), _sq8_codes_from_scale(val, scales, "s_g2")),
    )
    for serial, shared in pairs:
        assert shared.exceptAll(serial).count() == 0
        assert serial.exceptAll(shared).count() == 0
        assert serial.count() > 0


def test_streamed_bands_match_cached_batch_bands(spark, tmp_path):
    """s_dedup_near bands its stream row by row and its batch verdict side
    off the session-cached signature relation. Both go through the same
    helpers (shingle_sets → minhash_sig → minhash_bands), so a streaming
    read of the unique docs must yield exactly the cached relation's band
    rows, or the verdict join silently diverges from the streamed winners."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.operators.dedup import (
        _spark_signatures,
        minhash_bands,
        minhash_sig,
        shingle_sets,
    )
    from kinesis_test_spark.sources import unique_docs

    unique_docs(spark, SF_SRC, cols=["doc_id", "text"]).write.parquet(str(tmp_path / "src"))
    src = spark.readStream.schema("doc_id bigint, text string").parquet(str(tmp_path / "src"))
    sig = shingle_sets(src).select("doc_id", minhash_sig(F.col("sh")).alias("sig"))
    q = (
        minhash_bands(sig).select("doc_id", "b", "bkey")
        .writeStream.format("memory").queryName("near_band_pin")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = spark.table("near_band_pin")
    cached = minhash_bands(_spark_signatures(spark, SF_SRC)).select("doc_id", "b", "bkey")
    assert streamed.exceptAll(cached).count() == 0
    assert cached.exceptAll(streamed).count() == 0
    assert streamed.count() > 0
