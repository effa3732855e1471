"""End-to-end kernel fixtures: 185 cases mechanically transcribed from the
reference's jest suite (/root/reference/test/RdfParser-test.ts) by
tools/transcribe_fixtures.py. Comparison is graph isomorphism, matching
the reference's ``toBeRdfIsomorphic``."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from rdfa_streaming_parser_js_spark.kernel import parse_rdfa
from rdfa_streaming_parser_js_spark.kernel.isomorphism import (
    flatten_triples, isomorphic)
from rdfa_streaming_parser_js_spark.kernel.profiles import RdfaFeatures

CASES = json.loads(
    (Path(__file__).parent / "fixtures" / "rdfa_cases.json").read_text()
)["cases"]


def _expected_terms(case):
    out = []
    for s, p, o in case["expected"]:
        out.append(tuple(
            tuple(x) if x[0] != "lit" else ("lit", x[1], x[2], x[3])
            for x in (s, p, o)))
    return out


def _parse(case):
    opts = case["options"]
    features = None
    if "features" in opts:
        features = RdfaFeatures(**opts["features"])
    return parse_rdfa(
        case["html"],
        base_iri=opts.get("base_iri", ""),
        profile=opts.get("profile", ""),
        content_type=opts.get("content_type"),
        language=opts.get("language"),
        vocab=opts.get("vocab"),
        features=features,
    )


@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_reference_fixture(case):
    extractor = _parse(case)
    got = flatten_triples(extractor.triples)
    expected = _expected_terms(case)
    assert isomorphic(got, expected), (
        f"\ncase: {case['name']}\ngot:\n  "
        + "\n  ".join(map(str, sorted(set(got))))
        + "\nexpected:\n  "
        + "\n  ".join(map(str, sorted(set(expected)))))


# The cases pin triples only; this pins every case's extracted_text().
# A different digest is a change in kernel output, not a test to update.
TEXT_DIGEST = (
    "ecf4707fd2356ba5edda2aa8409900978f1d01bda42379101cc31befe995c434")


def test_fixture_text_golden_digest():
    digest = hashlib.sha256()
    for case in CASES:
        digest.update(repr((case["name"],
                            _parse(case).extracted_text())).encode())
    assert len(CASES) == 185
    assert digest.hexdigest() == TEXT_DIGEST
