"""The parse stage's Arrow batch assembler against the kernels it wraps.

``parse_documents`` turns each document's triples into output columns
inside one Python worker call per Arrow batch. Whatever way it builds
those columns, every row must be exactly what ``parse_one`` gives for
that document, in the document's own order, with the same error rows.
"""

from __future__ import annotations

import pytest

from tests.conftest import spark  # noqa: F401  (fixture)

_NT = (
    "<http://e/a> <http://e/p> <http://e/b> .\n"
    '<http://e/a> <http://e/q> "x"@en .\n'
    "<http://e/a> <http://e/p> <http://e/b> .\n"
    "_:n <http://e/p> \"1\"^^<http://www.w3.org/2001/XMLSchema#int> .\n"
)
_NQ = (
    "<http://e/a> <http://e/p> <http://e/b> <http://e/g> .\n"
    "<http://e/a> <http://e/p> <http://e/b> .\n"
    "<http://e/a> <http://e/p> <http://e/b> <http://e/g> .\n"
)
_TTL = (
    "@prefix ex: <http://e/> .\n"
    'ex:a ex:p ex:b, ex:b ; ex:q "y", [ ex:r ex:c ] .\n'
    "ex:a ex:p ex:b .\n"
)
_TRIG = (
    "@prefix ex: <http://e/> .\n"
    "ex:g { ex:a ex:p ex:b . ex:a ex:p ex:b . }\n"
    "{ ex:a ex:q ( 1 2 ) . }\n"
)
_RDFXML = (
    '<?xml version="1.0"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
    ' xmlns:ex="http://e/">\n'
    '  <rdf:Description rdf:about="http://e/a">\n'
    '    <ex:p rdf:resource="http://e/b"/>\n'
    '    <ex:p rdf:resource="http://e/b"/>\n'
    "    <ex:q>z</ex:q>\n"
    "  </rdf:Description>\n"
    "</rdf:RDF>\n"
)
_JSON = (
    '{"http://e/a": {"http://e/p": ['
    '{"type": "uri", "value": "http://e/b"},'
    '{"type": "uri", "value": "http://e/b"},'
    '{"type": "literal", "value": "w", "lang": "de"},'
    '{"type": "bnode", "value": "_:x"}]}}'
)

#: (conv_id, doc_text, tool): every syntax with duplicate statements,
#: a syntax error after good lines, an empty document, a document with
#: only directives, and a NULL text (the kernel raises -> internal row)
DOCS = [
    ("d-nt", _NT, "ntriples"),
    ("d-nq", _NQ, "nquads"),
    ("d-ttl", _TTL, "turtle"),
    ("d-trig", _TRIG, "trig"),
    ("d-xml", _RDFXML, "rdfxml"),
    ("d-json", _JSON, "json"),
    ("d-bad", _NT + "<http://e/a> <http://e/p> .\n" + _NT, "ntriples"),
    ("d-empty", "", "turtle"),
    ("d-none", "@prefix ex: <http://e/> .\n", "turtle"),
    ("d-null", None, "ntriples"),
    ("d-nt2", _NT, "ntriples"),
]

_TERMS = ("subj", "pred", "obj_kind", "obj_lex", "obj_datatype", "obj_lang", "graph")


def _expected(dedup: bool):
    from raptor_spark.operators.parse import parse_one

    triples, errors = {}, {}
    for conv, text, fmt in DOCS:
        if text is None:
            triples[conv], errors[conv] = [], None  # internal: row
            continue
        tl, errs = parse_one(text, fmt)
        if dedup:
            tl = list(dict.fromkeys(tl))
        triples[conv] = [tuple(t) for t in tl]
        errors[conv] = [(e.get("line", 0), e.get("message")) for e in errs]
    return triples, errors


@pytest.mark.parametrize("dedup", [True, False], ids=["dedup", "raw"])
def test_batch_matches_parse_one_per_document(spark, dedup):  # noqa: F811
    from raptor_spark.operators.parse import parse_documents

    docs = spark.createDataFrame(
        DOCS, "conv_id string, doc_text string, tool string"
    ).coalesce(1)  # one partition, one Arrow batch, input order kept
    rows = parse_documents(docs, dedup_per_doc=dedup).collect()
    want_t, want_e = _expected(dedup)

    got_t = {conv: [] for conv, _, _ in DOCS}
    got_e = {conv: [] for conv, _, _ in DOCS}
    fmt_of = {conv: fmt for conv, _, fmt in DOCS}
    for r in rows:
        assert r.src_format == fmt_of[r.conv_id], r
        if r.rec == "t":
            assert r.error_line is None and r.error_message is None, r
            got_t[r.conv_id].append(tuple(r[c] for c in _TERMS))
        else:
            assert r.rec == "e" and all(r[c] is None for c in _TERMS), r
            got_e[r.conv_id].append((r.error_line, r.error_message))

    assert got_t == want_t
    null_errors = got_e.pop("d-null")
    assert len(null_errors) == 1 and null_errors[0][1].startswith("internal:")
    want_e.pop("d-null")
    assert got_e == want_e
    # the fixture exercises what it claims to
    assert want_e["d-bad"] and want_t["d-bad"]
    assert not want_t["d-empty"] and not want_t["d-none"]
    assert any(t[6] is not None for t in want_t["d-nq"] + want_t["d-trig"])
    if not dedup:
        assert all(len(set(want_t[c])) < len(want_t[c]) for c, _, _ in DOCS[:6])
