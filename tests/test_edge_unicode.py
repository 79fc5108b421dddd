"""Standing pin for the DIRTY-UNICODE text adversarial corpus (EDGES.md).

Schema-legal but nasty Unicode (sharp-s / Turkish dotted-I / Greek
final-sigma case mappings, ligatures, combining marks vs precomposed,
astral emoji + ZWJ sequences, CJK no-space text, RTL scripts, NBSP/thin/
ideographic spaces, embedded NUL and zero-width characters, unicode JSON
keys and escapes) is planted into documents.text, customer.c_name and
events.event_type/props of a restaged sf0.001, and every key the unicode
probe ever flagged is re-run through the driver's own oracle gate.

The class exists because the fixture generator emits ASCII-only text, so
the engines' different Unicode tables stay invisible:

  * case mapping: Spark uses the JDK's FULL mappings (upper('ß')='SS',
    lower('İ')='i'+COMBINING DOT, context-sensitive final sigma) while
    DuckDB's utf8proc uses SIMPLE 1:1 mappings (upper('ß')='ẞ',
    lower('İ')='i', upper('ﬁ')='ﬁ') — any key that RECOMPUTES a case
    fold on both engines diverges on these codepoints; portable keys
    fold via porthash.ascii_lower/ascii_upper (translate, ASCII-only)
  * byte vs codepoint length: the decode family's payload is the UTF-8
    ENCODING of text, so its oracles must measure strlen (bytes), not
    length (codepoints) — 50 vs 44 on the sharp-s doc
  * regex-miss casts: CAST(regexp_extract(...) AS BIGINT) raises on the
    '' a non-matching name yields — try_cast/NULLIF on both engines
  * agreements we RELY on (probed, both engines): length()/substr()/
    strpos() count codepoints (astral emoji = 1), string ORDER BY is
    binary UTF-8, regex \\s is ASCII-only (NBSP does NOT split) in both
    Java regex and RE2, md5/porthash hash the UTF-8 bytes

The full-surface sweep lives in tools/battery.py --class unicode (which imports
``plant_unicode`` from here — one source of truth for the corpus); this
test pins the keys that ever diverged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

# One string per pathology; n_chars stays truthful (Python len == both
# engines' length(): codepoints). The sharp-s doc sits LAST so its doc_id
# (96000010) satisfies the `doc_id % 10 = 0` staged-copy predicates —
# upper('ß') is the one fold where Java's FULL mapping produces ASCII
# ('SS') that utf8proc's simple mapping ('ẞ') does not.
UNI_DOCS = [
    ("tr", "İstanbul ile DİYARBAKIR kapı I ı İstanbul İzmir"),
    ("el", "ΟΔΥΣΣΕΥΣ λόγος ΑΣ σοφός ΟΔΥΣΣΕΥΣ τέλος"),
    ("en", "ﬁnancial ﬂow in the ofﬁce ﬁnancial statements"),
    ("en", "word joined pair thin　ideographic space end"),
    ("en", "emoji 😀 test 🎉🎉 family 👨‍👩‍👧‍👦 flag 🇺🇸 done"),
    ("fr", "café café naïve résumé café déjà"),
    ("zh", "这是中文文本没有空格 日本語のテキスト 한국어텍스트 混合"),
    ("und", "mixed עברית and العربية text направление тест"),
    ("en", "line one\nline two\r\nline three\ttab​zw null\x00byte end"),
    ("de", "Müller ß STRASSE straße Weiß ß GROSSE Straße"),
]


def plant_unicode(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with planted dirty-Unicode rows:
    ten documents (one pathology each), one customer with a non-ASCII
    c_name, and two events with non-ASCII event_type and Unicode JSON
    props (a raw multi-byte key/value and a \\uXXXX escape)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    docs = pq.read_table(dest / "documents.parquet")
    dx = pa.table(
        {
            "doc_id": [96000001 + i for i in range(len(UNI_DOCS))],
            "text": [t for _, t in UNI_DOCS],
            "lang": [lang for lang, _ in UNI_DOCS],
            "source": ["edge-uni"] * len(UNI_DOCS),
            "n_chars": [len(t) for _, t in UNI_DOCS],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, dx]), dest / "documents.parquet")

    cust = pq.read_table(dest / "customer.parquet")
    ch = cust.slice(0, 1).to_pydict()
    cd = {n: list(ch[n]) for n in cust.schema.names}
    cd["c_custkey"] = [96000001]
    cd["c_name"] = ["Müller#İstanbul ß Co ΑΣ"]
    pq.write_table(
        pa.concat_tables([cust, pa.table(cd, schema=cust.schema)]),
        dest / "customer.parquet",
    )

    # matching embedding for the sharp-s doc: multimodal keys JOIN
    # documents to embeddings on doc_id = vec_id, so without this the
    # planted docs never reach the bundled payload_len/md5 path
    emb = pq.read_table(dest / "embeddings.parquet")
    ehd = emb.slice(0, 1).to_pydict()
    dim = len(ehd["embedding"][0])
    ex_emb = pa.table(
        {
            "vec_id": [96000010],
            "embedding": [[0.25 * ((-1) ** i) for i in range(dim)]],
            "label": ehd["label"],
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex_emb]), dest / "embeddings.parquet")

    ev = pq.read_table(dest / "events.parquet")
    eh = ev.slice(0, 2).to_pydict()
    ex = pa.table(
        {
            "event_id": [96000001, 96000002],
            "ts": eh["ts"],
            "user_id": eh["user_id"],
            "event_type": ["café", "ΒΗΜΑ"],
            "value": [1.25, 2.5],
            "props": [
                '{"k": 5, "s": "café", "émoji": "😀"}',
                '{"k": 6, "s": "\\u0130stanbul \\ud83d\\ude00"}',
            ],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, ex]), dest / "events.parquet")


@pytest.fixture(scope="module")
def uni_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("uni_sf")
    plant_unicode(SF_SRC, d)
    return str(d)


# Every key the round-8 unicode probe flagged (6/263 at first sweep),
# plus the two latent keys the strengthened corpus now exercises,
# grouped by the divergence each exposed:
UNI_EDGE_KEYS = [
    # engine-specific case folds recomputed on both sides (İ / final
    # sigma in lower; ß in the staged upper copy) — now the portable
    # ASCII-only translate fold (porthash.ascii_lower/ascii_upper)
    "q_fn_string",
    "q_text_pii",
    "q_dedup_normalized",
    # UTF-8 payload byte length vs text codepoint length — decode-family
    # oracles now state strlen (bytes); q_multimodal was latent (its
    # planted docs only reach the join once an embedding matches)
    "q_mm_decode",
    "q_mm_decode_arrow",
    "q_mm_frames",
    "q_mm_resize",
    "q_multimodal",
]


@pytest.mark.parametrize("name", UNI_EDGE_KEYS)
def test_unicode_corpus_parity(spark, uni_sf_dir, name):
    problems = check_query(spark, uni_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
