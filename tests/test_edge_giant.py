"""EDGE CLASS 19 — OVERSIZED PAYLOADS (round 11).

Every earlier corpus plants dirty values or distributions in NORMAL-sized
rows; this one plants size itself: a 20,000-word document (big token
stream / shingle multiset), a single 100,000-character word (one giant
token through the tokenizer, BPE chained-replace, char n-gram and entropy
paths), a 10,000-fold repetition of one word (giant AND degenerate), and
an events.props JSON carrying a 50 KB string value (big payload through
every JSON parse path). The class gates two things: (a) PARITY — a
size-dependent divergence (regex engine limits, int widths in n·(n−1)
pair math, string-length cutoffs) must not split the engines; (b)
TOTALITY — no operator may error or hang on a row that is merely large
(at 100 TB, megabyte documents are ordinary).

Corpus construction (plant_giant) is shared with tools/battery.py --class giant —
the standing pins here cover the size-sensitive key families.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

# 20k words over a 997-word vocabulary (prime cycle → shingles repeat but
# never align with doc boundaries), one 100k-char token, 10k-fold repeat.
_BIG_WORDS = " ".join(f"w{i % 997}" for i in range(20_000))
_GIANT_TOKEN = "x" * 100_000
_SPAM = " ".join(["spam"] * 10_000)


def plant_giant(src: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    docs = pq.read_table(dest / "documents.parquet")
    texts = [_BIG_WORDS, _GIANT_TOKEN, _SPAM]
    dx = pa.table(
        {
            "doc_id": [97000001, 97000002, 97000003],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["edge-giant"] * 3,
            "n_chars": [len(t) for t in texts],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, dx]), dest / "documents.parquet")

    ev = pq.read_table(dest / "events.parquet")
    eh = ev.slice(0, 1).to_pydict()
    ed = {n: list(eh[n]) for n in ev.schema.names}
    ed["event_id"] = [97000001]
    ed["user_id"] = [97000001]
    ed["event_type"] = ["view"]
    ed["value"] = [1.0]
    ed["props"] = [json.dumps({"k": 7, "blob": "b" * 50_000})]
    pq.write_table(
        pa.concat_tables([ev, pa.table(ed, schema=ev.schema)]),
        dest / "events.parquet",
    )


@pytest.fixture(scope="module")
def giant_dir(tmp_path_factory):
    d = Path(str(tmp_path_factory.mktemp("giant_sf")))
    plant_giant(SF_SRC, d)
    return str(d)


# The size-sensitive families: token stream / shingle / signature walkers,
# per-doc scorers with length-derived math, the tokenizer story, JSON
# payload consumers, and the round-11 sketch (giant docs dominate its
# exact top-20). Chosen from the first full-surface probe sweep.
GIANT_KEYS = [
    "q_text_stats",
    "q_text_wordcount",
    "q_text_tokens",
    "q_text_entropy",
    "q_text_repetition",
    "q_text_perplexity",
    "q_text_tokenize_ids",
    "q_bpe_encode",
    "q_bpe_pair_counts",
    "q_dedup_minhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_substring",
    "q_dedup_paragraph",
    "q_quality_gate",
    "q_quality_classifier",
    "q_length_histogram",
    "q_sketch_countmin",
    "q_json_decode",
    "q_fn_json",
    "q_variant",
    "q_text_pii",
    "q_text_chunk",
]


@pytest.mark.parametrize("name", GIANT_KEYS)
def test_giant_payload_parity(spark, giant_dir, name):
    problems = check_query(spark, giant_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
