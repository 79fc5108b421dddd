"""Standing pin for the WHITESPACE-PATHOLOGY adversarial corpus
(EDGES.md).

Every text operator in the engine tokenizes on the single literal
space (`split(text, ' ')` in Spark ↔ `string_split(text, ' ')` /
`regexp_split_to_array` in DuckDB oracles), and the clean fixture
generator emits perfectly single-spaced prose — so NO planted corpus
had ever produced an EMPTY TOKEN. Real text does constantly: double
spaces after sentence ends, tab-indented lines, hard-wrapped newlines,
trailing whitespace from copy-paste, whitespace-only documents from
broken extractors. Empty tokens change word counts, n-gram shingles,
vocabulary contents, entropy terms, and quality ratios — and the two
engines' split/trailing-empty/regex semantics are exactly the kind of
edge that diverges silently.

Planted (appended under doc_id 3000.., source 'edge-ws'):

  * double/triple interior spaces (empty tokens mid-stream);
  * leading and trailing space runs (empty tokens at the ends —
    trailing-empty retention is the classic split() divergence);
  * tab-separated and newline-separated words (NOT token boundaries
    for a literal-space split: the whole line is one "word" —
    byte-identical on both engines or not at all);
  * a single-space doc, a spaces-only doc, a newlines-only doc
    (tokenizes to ONLY empty tokens — the all-dirt extreme of the
    empty-doc class);
  * CRLF line endings embedded mid-text.

The full-surface sweep lives in tools/battery.py --class whitespace (imports
``plant_whitespace`` from here — one source of truth); this test pins
the keys the probe ever flagged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

WS_TEXTS = [
    "alpha  beta gamma  delta ends with double  spaces",
    "  leading run of spaces before ordinary words follow",
    "ordinary words then a trailing run of spaces   ",
    "tab\tseparated\twords stay one token per literal space split",
    "hard\nwrapped\nlines of text carry embedded newlines",
    "multi   space   runs   everywhere   between   words",
    " ",
    "   ",
    "\n\n\n",
    "crlf\r\nline\r\nendings mid document text here",
]


def plant_whitespace(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with the whitespace-pathology docs
    appended to documents."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    docs = pq.read_table(dest / "documents.parquet")
    n = len(WS_TEXTS)
    ws_docs = pa.table(
        {
            "doc_id": pa.array(list(range(3000, 3000 + n)), type=pa.int64()),
            "text": WS_TEXTS,
            "lang": ["en"] * n,
            "source": ["edge-ws"] * n,
            "n_chars": pa.array([len(t) for t in WS_TEXTS], type=pa.int64()),
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, ws_docs]), dest / "documents.parquet")


# The round-8 probe swept 0/263 on the FIRST pass — the only corpus
# ever to close with zero findings (the empty/1/2/3-word doc pins of
# earlier rounds already forced empty-token totality through the split
# family). These pins keep the corpus exercised in-suite over the
# heaviest empty-token consumers so a future text operator that regresses
# the contract fails here, not in production.
WS_EDGE_KEYS: list[str] = [
    "q_text_wordcount",
    "q_text_stats",
    "q_text_tokenize_ids",
    "q_text_bigrams",
    "q_text_entropy",
    "q_text_quality",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash",
    "q_text_langid",
    "q_text_fingerprint",
]


@pytest.fixture(scope="module")
def ws_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ws_sf")
    plant_whitespace(SF_SRC, d)
    return d


@pytest.fixture(scope="module")
def spark():
    from kinesis_test_spark.session import get_spark

    return get_spark()


@pytest.mark.parametrize("name", WS_EDGE_KEYS)
def test_whitespace_corpus_parity(spark, ws_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    problems = check_query(spark, str(ws_dir), name)
    assert not problems, problems
