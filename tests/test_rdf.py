"""A1/A2 — RDF scan tests: N-Triples (distributed mapInPandas parse),
Turtle subset, RDF/XML; plus the metadata-gated C4/C5 contextual shapes.

Reference parse points: /root/reference/utils.py:66-67 (Turtle data graph),
utils.py:165-166 (RDF/XML vocabularies), config `graph_file_format`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.plans.constraints import (
    DQAConfig,
    compile_data_constraints,
)
from shacl_dqa_prototype_spark.plans.dqa import run_data_dqa
from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.sources.rdf import (
    parse_rdfxml,
    parse_turtle,
    read_ntriples,
)

EX = "http://example.org/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"


def test_ntriples_roundtrip(spark, tmp_path):
    nt = "\n".join([
        f'<{EX}a> <{EX}knows> <{EX}b> .',
        f'<{EX}a> <{EX}name> "Alice" .',
        f'<{EX}a> <{EX}name> "Alicia"@es .',
        f'<{EX}a> <{EX}age> "42"^^<{XSD_NS}integer> .',
        f'_:b1 <{EX}knows> _:b2 .',
        f'<{EX}a> <{EX}quote> "say \\"hi\\"\\n" .',
        'not a triple line',
    ])
    p = tmp_path / "g.nt"
    p.write_text(nt)
    rows = {tuple(r) for r in read_ntriples(spark, str(p)).collect()}
    assert (f"{EX}a", f"{EX}knows", f"{EX}b", "iri", None, None) in rows
    assert (f"{EX}a", f"{EX}name", "Alice", "literal", None, None) in rows
    assert (f"{EX}a", f"{EX}name", "Alicia", "literal",
            f"{RDF_NS}langString", "es") in rows
    assert (f"{EX}a", f"{EX}age", "42", "literal", f"{XSD_NS}integer", None) in rows
    assert ("_:b1", f"{EX}knows", "_:b2", "bnode", None, None) in rows
    assert (f"{EX}a", f"{EX}quote", 'say "hi"\n', "literal", None, None) in rows
    assert len(rows) == 6  # malformed line dropped


def test_turtle_subset():
    ttl = f"""
    @prefix ex: <{EX}> .
    @prefix xsd: <{XSD_NS}> .
    # a comment
    ex:a a ex:Person ;
         ex:name "Alice"@en , "Alicia"@es ;
         ex:age 42 ;
         ex:score 3.5 ;
         ex:active true ;
         ex:knows ex:b .
    _:n1 ex:label "blank"^^xsd:string .
    """
    rows = set(parse_turtle(ttl))
    assert (f"{EX}a", f"{RDF_NS}type", f"{EX}Person", "iri", None, None) in rows
    assert (f"{EX}a", f"{EX}name", "Alice", "literal", f"{RDF_NS}langString", "en") in rows
    assert (f"{EX}a", f"{EX}name", "Alicia", "literal", f"{RDF_NS}langString", "es") in rows
    assert (f"{EX}a", f"{EX}age", "42", "literal", f"{XSD_NS}integer", None) in rows
    assert (f"{EX}a", f"{EX}score", "3.5", "literal", f"{XSD_NS}decimal", None) in rows
    assert (f"{EX}a", f"{EX}active", "true", "literal", f"{XSD_NS}boolean", None) in rows
    assert (f"{EX}a", f"{EX}knows", f"{EX}b", "iri", None, None) in rows
    assert ("_:n1", f"{EX}label", "blank", "literal", f"{XSD_NS}string", None) in rows


def test_rdfxml_subset():
    xml = f"""<?xml version="1.0"?>
    <rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:owl="http://www.w3.org/2002/07/owl#"
             xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
             xml:base="{EX}onto">
      <owl:Class rdf:about="#Pizza">
        <rdfs:label xml:lang="en">Pizza</rdfs:label>
        <rdfs:subClassOf rdf:resource="#Food"/>
      </owl:Class>
      <rdf:Description rdf:about="#Margherita">
        <rdf:type rdf:resource="#Pizza"/>
      </rdf:Description>
    </rdf:RDF>"""
    rows = set(parse_rdfxml(xml))
    owl = "http://www.w3.org/2002/07/owl#"
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    assert (f"{EX}onto#Pizza", f"{RDF_NS}type", f"{owl}Class", "iri", None, None) in rows
    assert (f"{EX}onto#Pizza", f"{rdfs}label", "Pizza", "literal",
            f"{RDF_NS}langString", "en") in rows
    assert (f"{EX}onto#Pizza", f"{rdfs}subClassOf", f"{EX}onto#Food",
            "iri", None, None) in rows
    assert (f"{EX}onto#Margherita", f"{RDF_NS}type", f"{EX}onto#Pizza",
            "iri", None, None) in rows


def test_contextual_uri_shapes(spark):
    """C4/C5 — URIRegexCompliance / URISpaceCompliance, gated on metadata
    (shacl_shape_builder.py:70-77): instantiated only when the VoID
    metadata supplies uriRegexPattern / uriSpace."""
    T = spark.createDataFrame(
        [
            (f"{EX}good1", f"{RDF_NS}type", f"{EX}C", "iri", None, None),
            (f"{EX}good2", f"{RDF_NS}type", f"{EX}C", "iri", None, None),
            ("http://other.org/bad", f"{RDF_NS}type", f"{EX}C", "iri", None, None),
        ],
        TRIPLES_SCHEMA,
    )
    cfg = DQAConfig(
        type_property=f"{RDF_NS}type",
        uri_regex_pattern="http://example\\.org/.*",
        uri_space=EX,
    )
    plan = compile_data_constraints(T, [], [], cfg)
    v = plan.violations
    regex_bad = {r["focus"] for r in
                 v.filter(F.col("metric") == "URIRegexComplianceEntities").collect()}
    space_bad = {r["focus"] for r in
                 v.filter(F.col("metric") == "URISpaceComplianceEntities").collect()}
    assert regex_bad == {"http://other.org/bad"}
    assert space_bad == {"http://other.org/bad"}
    # ungated when metadata absent
    report = run_data_dqa(T, [], [], DQAConfig(type_property=f"{RDF_NS}type"))
    metrics = {r["metric"] for r in report.collect()}
    assert "URIRegexComplianceEntities" not in metrics
    assert "URISpaceComplianceEntities" not in metrics


def test_ntriples_corrupt_record_mode(spark, tmp_path):
    from shacl_dqa_prototype_spark.sources.rdf import read_ntriples

    nt = "\n".join([
        "<http://e/s> <http://e/p> <http://e/o> .",
        "# a comment — legal, never corrupt",
        "",
        "garbage line",
        '<http://e/s> <http://e/p> "unterminated .',
        '<http://e/s2> <http://e/p> "ok" .',
    ])
    path = str(tmp_path / "mixed.nt")
    with open(path, "w") as f:
        f.write(nt)

    # default: malformed lines silently dropped
    assert read_ntriples(spark, path).count() == 2
    # PERMISSIVE-style: malformed lines kept with the raw line preserved
    df = read_ntriples(spark, path, corrupt_col="_corrupt")
    from pyspark.sql import functions as F

    bad = df.filter(F.col("_corrupt").isNotNull())
    assert bad.count() == 2
    assert {r["_corrupt"] for r in bad.collect()} == {
        "garbage line", '<http://e/s> <http://e/p> "unterminated .'}
    good = df.filter(F.col("_corrupt").isNull())
    assert good.count() == 2 and good.filter(F.col("s").isNull()).count() == 0


# ---------------------------------------------------------------------------
# Distributed Turtle (round-5: byte-range chunked read_turtle_distributed)
# ---------------------------------------------------------------------------

def _gen_ttl(n_subjects: int, seed_tag: str = "") -> str:
    """Deterministic Turtle dump exercising every statement shape the
    distributed reader must align across chunk boundaries: multi-line
    ';'/',' continuations, IRIs containing dots and '#', dotted pname
    locals, escaped + lang-tagged + typed literals, bare numbers at EOL,
    booleans, blank nodes, comments (incl. one trailing the terminator
    and ones containing '.' and '<'), and blank lines between statements."""
    out = [f"@prefix ex: <{EX}{seed_tag}> .",
           f"@prefix xsd: <{XSD_NS}> .", ""]
    for i in range(n_subjects):
        if i % 7 == 0:
            out.append(f"# comment {i} with a dot. and <angle and \"quote")
        s = f"ex:s{i}" if i % 3 else f"<{EX}{seed_tag}path.v1/s{i}#frag>"
        out.append(f"{s} a ex:T{i % 5} ;")
        out.append(f'  ex:name "n\\"{i}\\u00e9" , "alt{i}"@en ;')
        out.append(f"  ex:rank {i} ;")
        out.append(f"  ex:score {i}.5 ;")
        out.append(f"  ex:ok {'true' if i % 2 else 'false'} ;")
        out.append(f'  ex:code "c{i}"^^xsd:string ;')
        out.append(f"  ex:ver ex:rel1.{i % 4}x ;")
        out.append(f"  ex:link ex:s{(i + 1) % n_subjects} . # trail.")
        if i % 11 == 0:
            out.append(f"_:b{i} ex:of ex:s{i} ; ex:n {i} .")
        if i % 5 == 0:
            out.append("")
    return "\n".join(out) + "\n"


def test_turtle_distributed_matches_driver(spark, tmp_path):
    """Set/multiset equality between read_turtle_distributed and the
    driver parser on a ~1 MB dump chunked into ~60 byte ranges — every
    chunk boundary lands somewhere different (mid-literal, mid-IRI,
    on blank/comment lines, mid-statement)."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    text = _gen_ttl(3000)
    p = tmp_path / "big.ttl"
    p.write_text(text)
    expected = sorted(parse_turtle(text))
    got = sorted(
        tuple(r) for r in read_turtle_distributed(
            spark, str(p), target_chunk_bytes=16 << 10).collect())
    assert len(got) == len(expected) and got == expected


def test_turtle_distributed_tiny_chunks(spark, tmp_path):
    """256-byte chunks over a small file: more chunks than statements, so
    every alignment path (empty chunk, skip-to-boundary, read-past-end,
    boundary exactly at a chunk edge) is exercised."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    text = _gen_ttl(40)
    p = tmp_path / "small.ttl"
    p.write_text(text)
    got = sorted(
        tuple(r) for r in read_turtle_distributed(
            spark, str(p), target_chunk_bytes=256).collect())
    assert got == sorted(parse_turtle(text))


def test_turtle_distributed_directory_and_guard(spark, tmp_path):
    """A directory of shard files reads as their union; a triple-quoted
    literal is refused loudly (the one construct whose raw newlines make
    line-local boundary detection unsound)."""
    import pytest

    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    d = tmp_path / "shards"
    d.mkdir()
    expected = []
    for k in range(3):
        text = _gen_ttl(25, seed_tag=f"shard{k}/")
        (d / f"part-{k}.ttl").write_text(text)
        expected.extend(parse_turtle(text))
    (d / "_SUCCESS").write_text("")  # marker files must be skipped
    got = sorted(tuple(r) for r in read_turtle_distributed(
        spark, str(d), target_chunk_bytes=1 << 10).collect())
    assert got == sorted(expected)

    bad = tmp_path / "long.ttl"
    bad.write_text(
        f'@prefix ex: <{EX}> .\nex:a ex:p """multi\nline""" .\n')
    with pytest.raises(Exception, match="triple-quoted"):
        read_turtle_distributed(spark, str(bad)).collect()


# ---------------------------------------------------------------------------
# Turtle grammar extensions (round-5: long strings, [ … ], ( … ), @base,
# empty prefix, doubles) + full-coverage tokenizer loudness
# ---------------------------------------------------------------------------

def test_turtle_long_strings_and_quote_styles():
    ttl = f'''@prefix ex: <{EX}> .
ex:s ex:p """line one
line two "quoted" end""" .
ex:s ex:q \'\'\'it\'s
multi\'\'\'@en .
ex:s ex:r """42"""^^<{XSD_NS}int> .
ex:s ex:t 'hi \\'there\\'' .
'''
    rows = parse_turtle(ttl)
    assert rows[0][2] == 'line one\nline two "quoted" end'
    assert rows[1][2] == "it's\nmulti" and rows[1][5] == "en"
    assert rows[2][2:5] == ("42", "literal", f"{XSD_NS}int")
    assert rows[3][2] == "hi 'there'"


def test_turtle_base_empty_prefix_doubles():
    rows = parse_turtle("@prefix : <http://ex.org/> . :s :p :o .")
    assert rows == [("http://ex.org/s", "http://ex.org/p",
                     "http://ex.org/o", "iri", None, None)]
    rows = parse_turtle("@base <http://ex.org/dir/> . <s> <p> <../o> .")
    assert rows == [("http://ex.org/dir/s", "http://ex.org/dir/p",
                     "http://ex.org/o", "iri", None, None)]
    rows = parse_turtle(
        f"@prefix ex: <{EX}> . ex:s ex:p 1.5e3, .5, 5 . ex:s ex:q 7.")
    assert rows[0][2:5] == ("1.5e3", "literal", f"{XSD_NS}double")
    assert rows[1][2:5] == (".5", "literal", f"{XSD_NS}decimal")
    assert rows[2][2:5] == ("5", "literal", f"{XSD_NS}integer")
    # '7.' = integer then statement terminator (Turtle DECIMAL needs
    # digits after the dot) — the tokenizer must not eat the '.'
    assert rows[3][2:5] == ("7", "literal", f"{XSD_NS}integer")


def test_turtle_bnode_property_lists_and_collections():
    rows = parse_turtle(f"""@prefix ex: <{EX}> .
ex:s ex:p [ ex:q ex:o ; ex:r "x" ] .
[ ex:t ex:u ] ex:v ex:w .
[] ex:y ex:z .
ex:s ex:list (1 "two" ex:three) .
ex:s ex:empty () .
""")
    b1 = rows[0][0]
    assert rows[0][1:3] == (f"{EX}q", f"{EX}o")          # inner first
    assert rows[1][0] == b1 and rows[1][2] == "x"
    assert rows[2][2] == b1 and rows[2][3] == "bnode"     # outer row after
    assert rows[3][0].startswith("_:g") and rows[3][1] == f"{EX}t"
    assert rows[5][0].startswith("_:g") and rows[5][1] == f"{EX}y"
    assert len({rows[0][0], rows[3][0], rows[5][0]}) == 3  # distinct anons
    firsts = [r for r in rows if r[1] == f"{RDF_NS}first"]
    rests = [r for r in rows if r[1] == f"{RDF_NS}rest"]
    assert [f[2] for f in firsts] == ["1", "two", f"{EX}three"]
    assert rests[-1][2] == f"{RDF_NS}nil"
    assert rows[-1][2] == f"{RDF_NS}nil" and rows[-1][3] == "iri"
    # nested lists recurse
    nested = parse_turtle(f"@prefix ex: <{EX}> . ex:s ex:p [ ex:q [ ex:r ex:o ] ] .")
    assert len(nested) == 3 and nested[0][1] == f"{EX}r"
    # seeded labels are disjoint across seeds (the distributed reader's
    # per-chunk guarantee) and can never collide with explicit _:labels
    # (generated labels contain '.', which the _:label token forbids)
    a = parse_turtle(f"@prefix ex: <{EX}> . ex:s ex:p [ ex:q ex:o ] .", bnode_seed="c1")
    b = parse_turtle(f"@prefix ex: <{EX}> . ex:s ex:p [ ex:q ex:o ] .", bnode_seed="c2")
    assert a[0][0] != b[0][0] and a[0][0].startswith("_:gc1.")


def test_turtle_unparseable_is_loud():
    """The tokenizer enforces full input coverage: anything outside the
    grammar subset raises instead of being silently dropped (the failure
    mode that used to shred a long string into '""' + lost words)."""
    import pytest

    for bad in ["ex:s ex:p ???",
                f"@prefix ex: <{EX}> . ex:s ex:p ex:o . %%%",
                'ex:s ex:p "unterminated .']:
        with pytest.raises(ValueError, match="unparseable Turtle"):
            parse_turtle(bad)
    with pytest.raises(ValueError, match="unknown prefix"):
        parse_turtle("ex:s ex:p ex:o .")


def test_turtle_parses_reference_shape_graphs():
    """The committed reference shape graphs use [ … ] property lists,
    sh: prefixed names and multi-line layout — the upgraded subset parses
    all of them; the Jinja *templates* are NOT Turtle and must raise."""
    import os

    import pytest

    ref = "/root/reference"
    if not os.path.isdir(ref):
        pytest.skip("reference not available")
    expect = {
        f"{ref}/test/test_shacl_shape.ttl": 20,
        f"{ref}/datasets/pizza/shapes/data_shapes.ttl": 4430,
        f"{ref}/datasets/pizza/shapes/vocabulary_shapes_pizza_owl.ttl": 264,
        f"{ref}/datasets/pizza/shapes/metadata_shapes.ttl": 103,
    }
    for path, n in expect.items():
        rows = parse_turtle(open(path, encoding="utf-8").read())
        assert len(rows) == n, path
        assert all(len(r) == 6 for r in rows)
    with pytest.raises(ValueError, match="unparseable Turtle"):
        parse_turtle(open(
            f"{ref}/dq_assessment/shapes/data_shapes.template.ttl",
            encoding="utf-8").read())


def test_turtle_distributed_bnode_lists_and_squotes(spark, tmp_path):
    """Distributed == driver on a dump with multi-line [ … ] property
    lists and single-quoted literals whose bodies contain ' . ' and '#'
    (the boundary scanner must treat both quote styles as literals).
    Anon labels are seed-dependent, so each [ … ] carries a unique tag
    literal and labels are canonicalized to their tag before comparing."""
    from shacl_dqa_prototype_spark.sources.rdf import read_turtle_distributed

    out = [f"@prefix ex: <{EX}> ."]
    for i in range(400):
        out.append(f"ex:s{i} ex:meta [ ex:tag \"t{i}\" ;")
        out.append(f"    ex:rank {i} ] ;")
        out.append(f"  ex:note 'dot . inside # not-a-comment {i}' ;")
        out.append(f"  ex:link ex:s{(i + 1) % 400} .")
    text = "\n".join(out) + "\n"
    p = tmp_path / "bn.ttl"
    p.write_text(text)

    def canon(rows):
        tag = {r[0]: r[2] for r in rows if r[1] == f"{EX}tag"}
        return sorted(
            (tag.get(r[0], r[0]), r[1], tag.get(r[2], r[2]), *r[3:])
            for r in rows)

    got = canon([tuple(r) for r in read_turtle_distributed(
        spark, str(p), target_chunk_bytes=2 << 10).collect()])
    # 5 rows per subject: tag + rank (inside the bnode), meta, note, link
    assert got == canon(parse_turtle(text)) and len(got) == 400 * 5


def test_turtle_distributed_interior_longstring_chunk_raises(spark, tmp_path):
    """A long string far larger than the chunk size, whose interior lines
    LOOK like valid Turtle statements: chunks wholly interior to the
    string see no quote delimiter, parse cleanly, and would silently emit
    WRONG triples — the raw-byte-range scan in the delimiter-owning
    chunks is what guarantees the whole job fails loudly instead. (Raw
    ranges partition the file, so some task always owns each delimiter.)"""
    import pytest

    from shacl_dqa_prototype_spark.sources.rdf import read_turtle_distributed

    body = "\n".join(f"ex:f{i} ex:p ex:o{i} ." for i in range(400))
    p = tmp_path / "big_string.ttl"
    p.write_text(f'@prefix ex: <{EX}> .\nex:s ex:p """{body}""" .\n')
    with pytest.raises(Exception, match="triple-quoted"):
        read_turtle_distributed(spark, str(p), target_chunk_bytes=1 << 10).collect()

    # garbage interior: either the delimiter scan or the tokenizer's
    # coverage check fires first depending on task order — both are loud
    junk = "\n".join(f"filler line {i} with words" for i in range(400))
    p2 = tmp_path / "big_string2.ttl"
    p2.write_text(f'@prefix ex: <{EX}> .\nex:s ex:p """{junk}""" .\n')
    with pytest.raises(Exception, match="triple-quoted|unparseable Turtle"):
        read_turtle_distributed(spark, str(p2), target_chunk_bytes=1 << 10).collect()


# ---------------------------------------------------------------------------
# Round-5 review fixes: @base in chunk headers, mid-file decl loudness,
# exact (non-false-positive) long-string detection, positional validation
# ---------------------------------------------------------------------------

def test_turtle_distributed_base_and_relative_iris(spark, tmp_path):
    """@base belongs to the shared chunk header: every chunk must resolve
    relative IRIs, not just the chunk physically containing the @base
    line (silent-corruption bug found in review)."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    text = "@base <http://ex.org/dir/> .\n@prefix ex: <http://ex.org/ns#> .\n" + \
        "\n".join(f'<s{i}> <p> <o{i}> ; ex:n "v{i}" .' for i in range(500)) + "\n"
    p = tmp_path / "rel.ttl"
    p.write_text(text)
    got = sorted(tuple(r) for r in read_turtle_distributed(
        spark, str(p), target_chunk_bytes=1 << 10).collect())
    assert got == sorted(parse_turtle(text))
    assert all(r[0].startswith("http://ex.org/dir/s") for r in got)


def test_turtle_distributed_midfile_decl_is_loud(spark, tmp_path):
    """A @prefix redeclaration past the leading block would bind in its
    owning chunk but not in later ones — silently diverging from the
    driver parser. The containment check refuses it loudly."""
    import pytest

    from shacl_dqa_prototype_spark.sources.rdf import read_turtle_distributed

    stmts = ["@prefix x: <http://a/> ."]
    stmts += [f'x:s{i} x:p "v{i}" .' for i in range(200)]
    stmts.append("@prefix x: <http://b/> .")  # legal Turtle, silent hazard
    stmts += [f'x:t{i} x:p "w{i}" .' for i in range(200)]
    p = tmp_path / "redecl.ttl"
    p.write_text("\n".join(stmts) + "\n")
    with pytest.raises(Exception, match="leading declaration block"):
        read_turtle_distributed(spark, str(p), target_chunk_bytes=1 << 10).collect()


def test_turtle_distributed_quoted_triplequotes_not_false_positive(spark, tmp_path):
    """'\"\"\"' inside a ONE-LINE literal or a comment is valid chunkable
    input — the exact line-local detector must not refuse it (the old raw
    byte scan did)."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    lines = ["@prefix ex: <http://ex.org/> ."]
    for i in range(300):
        lines.append(f"# comment {i} with \"\"\" inside")
        lines.append(f"ex:s{i} ex:note '\"\"\"' ; ex:alt \"has ''' inside\" .")
    text = "\n".join(lines) + "\n"
    p = tmp_path / "quoted.ttl"
    p.write_text(text)
    got = sorted(tuple(r) for r in read_turtle_distributed(
        spark, str(p), target_chunk_bytes=1 << 10).collect())
    assert got == sorted(parse_turtle(text)) and len(got) == 600


def test_turtle_positional_and_literal_token_validation():
    """Literals/numbers in subject or predicate position and a datatype
    the literal re-match cannot handle raise ValueError — not silent
    garbage triples, not AttributeError (review findings)."""
    import pytest

    with pytest.raises(ValueError, match="invalid predicate"):
        parse_turtle('<http://e/s> "litpred" <http://e/o> .')
    with pytest.raises(ValueError, match="invalid subject"):
        parse_turtle('5 <http://e/p> <http://e/o> .')
    with pytest.raises(ValueError, match="invalid predicate"):
        parse_turtle('<http://e/s> 5 <http://e/o> .')
    # datatype IRI containing a space: tokenizer accepts '<...>' freely,
    # the literal re-match must not crash with AttributeError
    rows = parse_turtle('<http://e/s> <http://e/p> "5"^^<http://e/a b> .')
    assert rows[0][4] == "http://e/a b"
    # malformed @prefix shapes
    with pytest.raises(ValueError, match="malformed @prefix"):
        parse_turtle("@prefix <http://e/> <http://e/> .")
    # UTF-8 BOM tolerated
    assert parse_turtle("﻿@prefix ex: <http://e/> . ex:s ex:p ex:o .")


def test_turtle_distributed_shard_seed_uniqueness(spark, tmp_path):
    """Chunk anon-bnode seeds must be unique across ALL shard files.
    len(plan) read lazily inside the extend() generator produced
    colliding plan indices across files (f1 -> {0,2}, f2 -> {2,4}), so
    chunks in different shards emitted identical _:gN.M labels and
    unrelated [ ... ] property lists were silently conflated (review
    finding)."""
    from shacl_dqa_prototype_spark.sources.rdf import read_turtle_distributed

    d = tmp_path / "shards"
    d.mkdir()
    n_files, per = 4, 120
    for fidx in range(n_files):
        lines = ["@prefix ex: <http://ex.org/> ."]
        lines += [f'ex:f{fidx}s{i} ex:has [ ex:tag "f{fidx}.{i}" ] .'
                  for i in range(per)]
        (d / f"part{fidx}.ttl").write_text("\n".join(lines) + "\n")
    rows = [tuple(r) for r in read_turtle_distributed(
        spark, str(d), target_chunk_bytes=1 << 10).collect()]
    # every [ ] emits exactly 2 rows (parent link + tag) sharing one
    # generated label; a seed collision fuses labels across shards
    assert len(rows) == n_files * per * 2
    by_label: dict[str, int] = {}
    for r in rows:
        lbl = r[2] if r[3] == "bnode" else r[0]
        by_label[lbl] = by_label.get(lbl, 0) + 1
    anon = {k: n for k, n in by_label.items() if k.startswith("_:g")}
    assert len(anon) == n_files * per
    assert all(n == 2 for n in anon.values())


def test_turtle_distributed_relative_base_not_double_applied(spark, tmp_path):
    """The chunk physically containing a RELATIVE @base must not apply it
    twice (header replay + the in-text copy): urljoin('app/v1/',
    'app/v1/') == 'app/v1/app/v1/' silently prefix-doubled every IRI in
    that chunk (review finding). The leading declaration block is now
    stripped from the file-head chunk's text."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    text = "@base <app/v1/> .\n" + "\n".join(
        f"<s{i}> <p> <o{i}> ." for i in range(400)) + "\n"
    p = tmp_path / "relbase.ttl"
    p.write_text(text)
    got = sorted(tuple(r) for r in read_turtle_distributed(
        spark, str(p), target_chunk_bytes=1 << 10).collect())
    assert got == sorted(parse_turtle(text))
    assert all(r[0].startswith("app/v1/s") for r in got)
    assert not any("app/v1/app/v1" in r[0] for r in got)


def test_turtle_distributed_bom(spark, tmp_path):
    """A UTF-8 BOM must not blank the shared header (every chunk would
    then fail with 'unknown prefix') nor break the file-head chunk's
    full-coverage tokenizer (review finding: parse_turtle tolerates the
    BOM, the distributed path did not)."""
    from shacl_dqa_prototype_spark.sources.rdf import (
        parse_turtle,
        read_turtle_distributed,
    )

    body = "@prefix ex: <http://ex.org/> .\n" + "\n".join(
        f'ex:s{i} ex:p "v{i}" .' for i in range(300)) + "\n"
    p = tmp_path / "bom.ttl"
    p.write_bytes(b"\xef\xbb\xbf" + body.encode())
    got = sorted(tuple(r) for r in read_turtle_distributed(
        spark, str(p), target_chunk_bytes=1 << 10).collect())
    assert got == sorted(parse_turtle(body)) and len(got) == 300


def test_turtle_distributed_identical_redecl_is_loud(spark, tmp_path):
    """A mid-file redeclaration TEXTUALLY IDENTICAL to a header decl used
    to pass the containment check and parse twice in its owning chunk —
    for a relative @base that compounds against itself, diverging from
    the driver parser. Any declaration outside the leading block is now
    refused outright."""
    import pytest

    from shacl_dqa_prototype_spark.sources.rdf import read_turtle_distributed

    stmts = ["@base <app/v1/> ."]
    stmts += [f"<s{i}> <p> <o{i}> ." for i in range(200)]
    stmts.append("@base <app/v1/> .")  # identical text, compounds in driver
    stmts += [f"<t{i}> <p> <o{i}> ." for i in range(200)]
    p = tmp_path / "redecl2.ttl"
    p.write_text("\n".join(stmts) + "\n")
    with pytest.raises(Exception, match="leading declaration block"):
        read_turtle_distributed(
            spark, str(p), target_chunk_bytes=1 << 10).collect()
