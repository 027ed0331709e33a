"""Golden span-sequence tests — the BASELINE.json invariant: output must be
span-for-span equal to the committed golden on (kind, text, media_ref, order).

Regenerate (after a REVIEWED semantic change) with:
    python -c "from tests.test_pipeline_golden import regen; regen()"
"""

import glob
import json
import os

import pytest

from docling_spark.pipeline import extract_document
from docling_spark.schema import NORMALIZED_KINDS
from docling_spark.synth import synth_corpus

_GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
# kv-* goldens are renderer-only fixtures (hand-written span lists for the
# key-value sink path), not extraction outputs of the synth corpus
_GOLDEN_IDS = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(_GOLDEN_DIR, "*.json"))
    if not os.path.basename(p).startswith("kv-")
)


@pytest.fixture(scope="module")
def corpus():
    return _tuple_corpus()


def _tuple_corpus():
    """The synth corpus with each span as the (kind, text, media_ref) tuple
    extract_document takes."""
    return {
        doc_id: [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        for doc_id, spans in synth_corpus(60, seed=42)
    }


@pytest.mark.parametrize("doc_id", _GOLDEN_IDS)
def test_golden_span_sequence(doc_id, corpus):
    with open(os.path.join(_GOLDEN_DIR, f"{doc_id}.json")) as f:
        golden = [tuple(s) for s in json.load(f)]
    actual = extract_document(corpus[doc_id])
    assert actual == golden, f"span-sequence mismatch for {doc_id}"


def test_all_outputs_use_closed_kind_set(corpus):
    for doc_id, spans in corpus.items():
        for k, t, r in extract_document(spans):
            assert k in NORMALIZED_KINDS, f"{doc_id}: unexpected kind {k!r}"


def test_no_furniture_survives(corpus):
    from docling_spark.functions.furniture import is_furniture_text

    for doc_id, spans in corpus.items():
        for k, t, r in extract_document(spans):
            if k == "text":
                assert not is_furniture_text(t), f"{doc_id}: furniture leaked: {t!r}"


def regen():
    corpus = _tuple_corpus()
    for doc_id in _GOLDEN_IDS:
        out = extract_document(corpus[doc_id])
        with open(os.path.join(_GOLDEN_DIR, f"{doc_id}.json"), "w") as f:
            json.dump([[k, t, r] for k, t, r in out], f, ensure_ascii=False, indent=1)
