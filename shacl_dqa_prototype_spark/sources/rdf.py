"""A1/A2 — RDF scans into the canonical triple schema.

Three formats, matching the reference's ingest surface
(/root/reference/utils.py:66-67, config graph_file_format ∈ ttl/nt/xml/n3):

* N-Triples  — the scale path: line-oriented, so `spark.read.text` +
  a vectorized regex parser in mapInPandas shreds terabytes in parallel.
* Turtle     — TWO paths over one grammar subset (@prefix/@base, `a`,
  `;` `,` continuations, IRIs, prefixed names incl. the empty prefix,
  labelled + anonymous blank nodes `[ … ]`, collections `( … )`, short
  and long (triple-quoted) literals in both quote styles with
  @lang / ^^datatype, bare integers/decimals/doubles/booleans):
  `parse_turtle` parses driver-side (fixtures, VoID metadata);
  `read_turtle_distributed` chunks a multi-GB dump into statement-aligned
  byte ranges and parses every chunk in parallel (r5 — closes the one
  reference ingest surface we bounced: a drugbank-size `.ttl` data graph).
  The tokenizer enforces FULL input coverage: any byte outside the subset
  raises ValueError, so unsupported syntax is loud, never silently
  dropped. The one distributed-path restriction is multi-line (long)
  literals — raw newlines inside a token break statement-aligned
  chunking, so those files are refused with a pointer at `parse_turtle`,
  which does support them.
* RDF/XML    — driver-side reader for OWL vocabularies (A2). Handles typed
  node elements, rdf:about/resource/ID/nodeID, nested property elements,
  rdf:parseType="Collection" (OWL class expressions), xml:lang,
  rdf:datatype.

Driver-side parsers return plain row lists (vocab/metadata graphs are KB–MB
— SURVEY.md §2A A2/A3); `spark.createDataFrame(rows, TRIPLES_SCHEMA)` lifts
them when needed.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"

# ---------------------------------------------------------------------------
# N-Triples (distributed)
# ---------------------------------------------------------------------------

_NT_LINE = re.compile(
    r"^\s*"
    r"(?:<(?P<s_iri>[^>]*)>|(?P<s_bn>_:\S+))\s+"
    r"<(?P<p>[^>]*)>\s+"
    r"(?:<(?P<o_iri>[^>]*)>|(?P<o_bn>_:\S+)|"
    r'"(?P<o_lit>(?:[^"\\]|\\.)*)"'
    # group must NOT be named 'dtype': pandas' str.extract treats a column
    # named 'dtype' as its dtype kwarg and raises
    r"(?:@(?P<lang>[A-Za-z0-9\-]+)|\^\^<(?P<dt>[^>]*)>)?)"
    r"\s*\.\s*$"
)

_ESCAPES = {"\\n": "\n", "\\t": "\t", "\\r": "\r", '\\"': '"', "\\\\": "\\",
            "\\b": "\b", "\\f": "\f", "\\'": "'"}
_ESCAPE_RE = re.compile(r"\\u[0-9a-fA-F]{4}|\\U[0-9a-fA-F]{8}|\\.")


def _unescape(lit: str) -> str:
    """N-Triples string unescaping: the named ECHAR escapes plus numeric
    \\uXXXX / \\UXXXXXXXX (RDF 1.1 N-Triples grammar, UCHAR)."""
    def sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok[1] in "uU":
            return chr(int(tok[2:], 16))
        return _ESCAPES.get(tok, tok)

    return _ESCAPE_RE.sub(sub, lit)


def read_ntriples(
    spark: SparkSession, path: str, corrupt_col: str | None = None
) -> DataFrame:
    """spark.read.text → vectorized per-batch regex shredding. Each line is
    independent, so this parallelizes to any file size.

    With ``corrupt_col`` set (PERMISSIVE-mode pattern), malformed lines are
    KEPT as rows whose triple columns are NULL and whose ``corrupt_col``
    holds the raw line — at corpus scale silent drops hide data bugs;
    ``df.filter(col(corrupt_col).isNotNull()).count()`` audits them.
    Blank lines and ``#`` comments are legal N-Triples and never counted
    corrupt. Default (None) drops non-triple lines, matching a plain
    triple-scan contract."""
    lines = spark.read.text(path)

    def unesc(col: pd.Series) -> pd.Series:
        """Unescape only rows that contain a backslash — real corpora have
        few escaped terms, so the Python-level calls are the exception."""
        # `== True` maps the NaNs (non-matching rows) to False without the
        # object-dtype fillna downcasting warning
        has_esc = col.str.contains("\\", regex=False) == True  # noqa: E712
        if has_esc.any():
            col = col.copy()
            col[has_esc] = col[has_esc].map(_unescape)
        return col

    def coalesce(first: pd.Series, *rest: pd.Series) -> pd.Series:
        """First non-null value per row. ``where`` keeps the object dtype,
        where a ``fillna`` chain would downcast (a deprecated pandas
        behaviour that warns)."""
        for col in rest:
            first = first.where(first.notna(), col)
        return first

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ext = pdf["value"].str.extract(_NT_LINE)
            mask = ext["p"].notna()
            sub = ext[mask]
            o_kind = pd.Series("literal", index=sub.index)
            o_kind[sub["o_iri"].notna()] = "iri"
            o_kind[sub["o_bn"].notna()] = "bnode"
            # IRIs may carry UCHAR escapes too (N-Triples grammar)
            o = coalesce(unesc(sub["o_iri"]), sub["o_bn"],
                         unesc(sub["o_lit"]))
            # lang-tagged literals are rdf:langString (RDF 1.1), mirroring
            # parse_turtle/parse_rdfxml — otherwise a lang-tagged literal
            # loaded from .nt would default to xsd:string downstream and
            # escape CorrectRange/MalformedLiteral, diverging from the
            # reference (pySHACL types it rdf:langString).
            o_dtype = sub["dt"].where(sub["lang"].isna(), f"{RDF_NS}langString")
            out = pd.DataFrame(
                {
                    "s": coalesce(unesc(sub["s_iri"]), sub["s_bn"]),
                    "p": unesc(sub["p"]),
                    "o": o,
                    "o_kind": o_kind,
                    "o_dtype": o_dtype,
                    "o_lang": sub["lang"],
                }
            )
            if corrupt_col is None:
                yield out
                continue
            out[corrupt_col] = pd.Series(None, index=sub.index, dtype=object)
            raw = pdf["value"]
            bad = raw[~mask & ~raw.str.match(r"^\s*(#|$)")]
            if len(bad):
                corrupt = pd.DataFrame(
                    {c: pd.Series(None, index=bad.index, dtype=object)
                     for c in out.columns})
                corrupt[corrupt_col] = bad
                out = pd.concat([out, corrupt]).sort_index()
            yield out

    schema = TRIPLES_SCHEMA
    if corrupt_col is not None:
        # fresh StructType — never mutate the shared schema constant
        # (StructType.add is in-place); corrupt rows have NULL triple
        # columns, so every field must be nullable here
        schema = StructType(
            [StructField(f.name, f.dataType, True) for f in schema.fields]
            + [StructField(corrupt_col, StringType(), True)])
    return lines.mapInPandas(parse, schema=schema)


# ---------------------------------------------------------------------------
# Turtle (driver-side subset)
# ---------------------------------------------------------------------------

_TTL_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<prefix_decl>@prefix\b)
  | (?P<base_decl>@base\b)
  | (?P<iri><[^>]*>)
  | (?P<literal>
        # long (triple-quoted) forms FIRST so they win over '""' + junk;
        # short forms exclude raw newlines (Turtle STRING_LITERAL_QUOTE)
        (?: \"\"\" (?:[^"\\]|\\.|"{1,2}(?!"))* \"\"\"
          | ''' (?:[^'\\]|\\.|'{1,2}(?!'))* '''
          | " (?:[^"\\\n]|\\.)* "
          | ' (?:[^'\\\n]|\\.)* '
        )
        (?:@[A-Za-z0-9\-]+
          # datatype mirrors the iri/pname grammars — a bare \S+ would
          # swallow a statement-terminating '.' ("5"^^xsd:int.)
          |\^\^(?:<[^>]*>|(?:[A-Za-z_][\w\-.]*)?:(?:[\w\-%.]*[\w\-%])?))?)
  | (?P<bnode>_:[A-Za-z0-9_\-]+)
    # num before punct so '.5' parses as a decimal, never punct '.';
    # trailing digits are REQUIRED after '.' so 'ex:p 5.' keeps its
    # statement terminator (Turtle DECIMAL is [0-9]* '.' [0-9]+)
  | (?P<num>[+-]?(?:[0-9]+\.[0-9]+(?:[eE][+-]?[0-9]+)?
                   |\.[0-9]+(?:[eE][+-]?[0-9]+)?
                   |[0-9]+(?:[eE][+-]?[0-9]+)?))
  | (?P<punct>[;,.\[\]()])
    # pname before kw_a/bool so 'a:x' / 'true:x' tokenize as ONE prefixed
    # name ('\ba\b' sees a boundary at the ':' and would split them)
  | (?P<pname>(?:[A-Za-z_][\w\-.]*)?:(?:[\w\-%.]*[\w\-%])?)
  | (?P<kw_a>\ba\b)
  | (?P<bool>\btrue\b|\bfalse\b)
    """,
    re.VERBOSE,
)

_TTL_LIT = re.compile(
    r'^(?:"""((?:[^"\\]|\\.|"{1,2}(?!"))*)"""'
    r"|'''((?:[^'\\]|\\.|'{1,2}(?!'))*)'''"
    r'|"((?:[^"\\\n]|\\.)*)"'
    r"|'((?:[^'\\\n]|\\.)*)')"
    # datatype mirrors the tokenizer's: <…> may contain spaces, so a bare
    # \S+ here would fail to re-match a token the tokenizer accepted
    r'(?:@([A-Za-z0-9\-]+)|\^\^(<[^>]*>|\S+))?$',
    re.DOTALL,
)

_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _ttl_tokens(text: str) -> list[tuple[str, str]]:
    """Tokenize with FULL-COVERAGE enforcement: every non-whitespace byte
    must belong to some token, else ValueError. Without this, a plain
    `finditer` loop silently drops whatever it cannot match — e.g. a
    multi-line literal used to shred into an empty '""' literal plus
    dropped words, corrupting the graph with no error."""
    tokens: list[tuple[str, str]] = []
    last = 0
    for m in _TTL_TOKEN.finditer(text):
        gap = text[last:m.start()]
        if gap and not gap.isspace():
            raise ValueError(
                f"unparseable Turtle at byte {last}: {gap.strip()[:60]!r}")
        if m.lastgroup != "comment":
            tokens.append((m.lastgroup, m.group(0)))
        last = m.end()
    tail = text[last:]
    if tail and not tail.isspace():
        raise ValueError(
            f"unparseable Turtle at byte {last}: {tail.strip()[:60]!r}")
    return tokens


def parse_turtle(text: str, bnode_seed: str = "") -> list[tuple]:
    """Minimal Turtle → triple rows (s, p, o, o_kind, o_dtype, o_lang).

    Grammar subset (the reference parses `.ttl` via rdflib,
    /root/reference/utils.py:66-67): @prefix/@base, IRIs (relative ones
    resolved against @base), prefixed names incl. the empty prefix,
    labelled blank nodes, anonymous bnode property lists ``[ … ]`` in
    subject and object position, collections ``( … )`` as rdf:first/rest
    chains, predicate-object / object lists, ``a``, numeric/boolean
    shorthand (integer/decimal/double), and short + long (triple-quoted)
    string literals in both quote styles with @lang / ^^datatype.
    Anything OUTSIDE the subset raises ValueError — the tokenizer
    verifies full input coverage, so unsupported syntax can never be
    silently dropped. This subset parses every real ``.ttl`` the
    reference ships (pizza data/void + its committed shapes graphs).

    ``bnode_seed`` namespaces generated anon-bnode labels
    (``_:g<seed>.<n>`` — '.' cannot occur in an explicit ``_:label``
    token, so generated labels never collide with parsed ones); the
    distributed reader passes a chunk-unique seed so chunks never
    collide with each other."""
    prefixes: dict[str, str] = {}
    rows: list[tuple] = []
    tokens = _ttl_tokens(text.lstrip("\ufeff"))  # tolerate a UTF-8 BOM
    pos = 0
    n_anon = 0
    base = ""

    def peek() -> str | None:
        return tokens[pos][1] if pos < len(tokens) else None

    def take() -> tuple[str, str]:
        nonlocal pos
        if pos >= len(tokens):
            raise ValueError("unexpected end of Turtle input")
        tk = tokens[pos]
        pos += 1
        return tk

    def fresh_bnode() -> str:
        nonlocal n_anon
        n_anon += 1
        return f"_:g{bnode_seed}.{n_anon}"

    def resolve(iri: str) -> str:
        if base and not _ABS_IRI.match(iri):
            return urljoin(base, iri)
        return iri

    def expand(kind: str, tok: str):
        """→ (lexical, o_kind, dtype, lang)"""
        if kind == "iri":
            return resolve(tok[1:-1]), "iri", None, None
        if kind == "bnode":
            return tok, "bnode", None, None
        if kind == "kw_a":
            return f"{RDF_NS}type", "iri", None, None
        if kind == "pname":
            pfx, local = tok.split(":", 1)
            if pfx not in prefixes:
                raise ValueError(f"unknown prefix {pfx!r}")
            return prefixes[pfx] + local, "iri", None, None
        if kind == "num":
            if "e" in tok or "E" in tok:
                dt = f"{XSD_NS}double"
            elif "." in tok:
                dt = f"{XSD_NS}decimal"
            else:
                dt = f"{XSD_NS}integer"
            return tok, "literal", dt, None
        if kind == "bool":
            return tok, "literal", f"{XSD_NS}boolean", None
        if kind == "literal":
            m = _TTL_LIT.match(tok)
            if m is None:
                raise ValueError(f"malformed literal token {tok[:60]!r}")
            lex = _unescape(next(g for g in m.groups()[:4] if g is not None))
            lang, dt_tok = m.group(5), m.group(6)
            dt = None
            if dt_tok:
                dt = (resolve(dt_tok[1:-1]) if dt_tok.startswith("<")
                      else expand("pname", dt_tok)[0])
            if lang:
                dt = f"{RDF_NS}langString"
            return lex, "literal", dt, lang
        raise ValueError(f"unexpected token {kind}:{tok}")

    def parse_object():
        kind, tok = tokens[pos] if pos < len(tokens) else (None, None)
        if tok == "[":
            return parse_bnode_props()
        if tok == "(":
            return parse_collection()
        take()
        return expand(kind, tok)

    def parse_bnode_props():
        take()  # '['
        node = fresh_bnode()
        if peek() != "]":
            parse_po_list(node, closer="]")
        if take()[1] != "]":
            raise ValueError("expected ']' closing bnode property list")
        return node, "bnode", None, None

    def parse_collection():
        take()  # '('
        items = []
        while peek() != ")":
            if peek() is None:
                raise ValueError("unterminated collection")
            items.append(parse_object())
        take()  # ')'
        if not items:
            return f"{RDF_NS}nil", "iri", None, None
        head = cur = fresh_bnode()
        for j, it in enumerate(items):
            rows.append((cur, f"{RDF_NS}first", *it))
            if j + 1 < len(items):
                nxt = fresh_bnode()
                rows.append((cur, f"{RDF_NS}rest", nxt, "bnode", None, None))
                cur = nxt
            else:
                rows.append((cur, f"{RDF_NS}rest", f"{RDF_NS}nil",
                             "iri", None, None))
        return head, "bnode", None, None

    def parse_po_list(subj: str, closer: str) -> None:
        while True:
            p_kind, p_tok = take()
            pred, pk, _, _ = expand(p_kind, p_tok)
            if pk != "iri":
                raise ValueError(f"invalid predicate term {p_tok[:60]!r}")
            while True:  # object lists
                o, ok, dt, lang = parse_object()
                rows.append((subj, pred, o, ok, dt, lang))
                if peek() == ",":
                    take()
                    continue
                break
            if peek() == ";":
                take()
                while peek() == ";":
                    take()
                if peek() == closer:  # "; ." and "; ]" tolerated
                    return
                continue
            return

    while pos < len(tokens):
        kind, tok = tokens[pos]
        if kind == "prefix_decl":
            take()
            n_kind, n_tok = take()
            i_kind, i_tok = take()
            if (n_kind != "pname" or not n_tok.endswith(":")
                    or ":" in n_tok[:-1] or i_kind != "iri"):
                raise ValueError(
                    f"malformed @prefix declaration near {n_tok[:60]!r}")
            prefixes[n_tok[:-1]] = resolve(i_tok[1:-1])
            if take()[1] != ".":
                raise ValueError("expected '.' after @prefix")
            continue
        if kind == "base_decl":
            take()
            i_kind, i_tok = take()
            if i_kind != "iri":
                raise ValueError(
                    f"malformed @base declaration near {i_tok[:60]!r}")
            base = resolve(i_tok[1:-1])
            if take()[1] != ".":
                raise ValueError("expected '.' after @base")
            continue
        if tok == "[":
            subj = parse_bnode_props()[0]
            if peek() != ".":  # bare "[ … ] ." emits only the inner rows
                parse_po_list(subj, closer=".")
        elif tok == "(":
            subj = parse_collection()[0]
            parse_po_list(subj, closer=".")
        else:
            take()
            s_lex, s_kind, _, _ = expand(kind, tok)
            if s_kind not in ("iri", "bnode"):
                raise ValueError(f"invalid subject term {tok[:60]!r}")
            subj = s_lex
            parse_po_list(subj, closer=".")
        if take()[1] != ".":
            raise ValueError("expected '.' ending statement")
    return rows


# ---------------------------------------------------------------------------
# Turtle (distributed) — byte-range chunking over the same grammar subset
# ---------------------------------------------------------------------------
# The reference accepts `.ttl` data graphs (config graph_file_format,
# /root/reference/utils.py:66-67); until round 5 our scale path was
# N-Triples only and a drugbank-size Turtle dump had to be converted
# first. This reader splits the file into byte ranges, aligns each range
# to STATEMENT boundaries exactly (no heuristics — see below), and runs
# parse_turtle per chunk in mapInPandas, so a multi-GB dump parses on
# every core. On a real cluster each chunk task becomes an object-store
# range read; the alignment protocol is unchanged.
#
# Supported subset = parse_turtle's subset with two extra restrictions,
# both enforced loudly:
#   * no triple-quoted (multi-line) literals — a raw newline never occurs
#     inside a token, so every LINE starts at top level and statement
#     terminators can be recognized line-locally;
#   * all @prefix/@base declarations must form the file's LEADING block
#     (the norm for machine-written dumps); any declaration found past it
#     raises ValueError — even one textually identical to a header decl,
#     because re-applying a relative @base compounds it in the driver
#     parser while the header replay applies it once.

# a declaration LINE: '@prefix name: <iri> .' or '@base <iri> .', anchored
# to line start — in the no-long-string subset every line begins outside
# any token, so a line-start match is a real declaration, never literal
# content that happens to contain '@prefix …' text
_TTL_DECL_LINE = re.compile(
    r"^[ \t]*@(?:(prefix)[ \t]+((?:[A-Za-z_][\w\-.]*)?:)|(base))"
    r"[ \t]*<([^>]*)>[ \t]*\.[ \t\r]*(?:#[^\n]*)?$",
    re.MULTILINE,
)
_MAX_TTL_LINE = 4 << 20  # backward-scan cap; also a sane dump-line bound


def _ttl_decl_key(m: re.Match) -> tuple:
    """Normalize a _TTL_DECL_LINE match to a comparable (kind, name, iri)."""
    if m.group(1):
        return ("prefix", m.group(2), m.group(4))
    return ("base", None, m.group(4))


def _ttl_header_decls(head: str, truncated: bool = False) -> list[str]:
    """The file's LEADING declaration block: @prefix/@base lines up to the
    first significant non-declaration line (blank/comment lines are
    transparent). Restricting to the leading block — rather than grepping
    the whole head — means literal content that merely *contains*
    '@prefix …' text can never be injected into the shared chunk header.
    ``truncated`` drops the final (possibly cut-off) line of a scan
    window; a declaration lost that way is caught loudly by the chunks'
    containment check, never silently."""
    lines = head.split("\n")
    if truncated:
        lines = lines[:-1]
    decls: list[str] = []
    for line in lines:
        s = line.strip()
        if not s or s.startswith("#"):
            continue
        if _TTL_DECL_LINE.match(line):
            decls.append(line)
        else:
            break
    return decls


def _ttl_strip_leading_decls(text: str) -> tuple[list[str], str]:
    """Split a chunk's LEADING declaration block (blank/comment lines
    transparent) from the statements that follow. The file-head chunk
    calls this so the declarations the shared header already re-supplies
    are not parsed twice — a RELATIVE ``@base`` applied twice resolves
    against itself (``urljoin('dir/', 'dir/') == 'dir/dir/'``), silently
    diverging from the driver parser. Returns (decl_lines, remainder)."""
    lines = text.split("\n")
    decls: list[str] = []
    rest_from = len(lines)
    for j, line in enumerate(lines):
        s = line.strip()
        if not s or s.startswith("#"):
            continue
        if _TTL_DECL_LINE.match(line):
            decls.append(line)
            continue
        rest_from = j
        break
    return decls, "\n".join(lines[rest_from:])


def _ttl_line_longstring_delim(line: str) -> bool:
    """Line-local: does a top-level triple-quote delimiter occur on this
    line? Short literals (both quote styles) and comments are skipped, so
    '\"\"\"' inside a one-line literal or a comment is NOT flagged. Exact
    for lines that start outside any token — which is every line of a
    file with no preceding long string, so the line carrying the FIRST
    long-string opener is always classified correctly."""
    i, n = 0, len(line)
    while i < n:
        c = line[i]
        if c == "#":
            return False
        if c in "\"'":
            if line[i + 1:i + 3] == c * 2:
                return True
            q = c
            i += 1
            while i < n and line[i] != q:
                i += 2 if line[i] == "\\" else 1
            if i >= n:
                return False  # unterminated short literal: parse will complain
            i += 1
            continue
        i += 1
    return False


def _range_has_longstring(path: str, start: int, end: int) -> bool:
    """Does any line STARTING in byte range [start, end) carry a top-level
    triple-quote delimiter? Lines are read in full (past `end` for the
    boundary line), and line starts partition the file across ranges, so
    the first long-string opener's line — which always starts at top
    level — is fully scanned by exactly one task. A per-line byte check
    keeps the common no-delimiter case at memchr speed."""
    with open(path, "rb") as f:
        pos = start
        if start > 0:
            f.seek(start - 1)
            pos += len(f.readline()) - 1
            if pos >= end:
                return False
        data = f.read(end - pos) + f.readline()
    if b'"""' not in data and b"'''" not in data:
        return False
    return any(
        (b'"""' in ln or b"'''" in ln)
        and _ttl_line_longstring_delim(ln.decode("utf-8", "replace"))
        for ln in data.split(b"\n"))


def _ttl_line_ends_statement(line: str) -> bool:
    """True iff the line's last significant token is a TOP-LEVEL statement
    terminator ``.`` — scanned with literal/IRI/comment states, which is
    exact (not heuristic) because the no-multi-line-literal restriction
    guarantees every line begins outside any token. A ``.`` counts as a
    terminator only when followed by whitespace/EOL/comment, which
    excludes pname-internal dots (``ex:a.b``) and decimals (``1.5``)."""
    i, n = 0, len(line)
    ends = False
    while i < n:
        c = line[i]
        if c == "#":
            break  # comment runs to EOL; keep the last decision
        if c == "<":
            j = line.find(">", i + 1)
            if j == -1:
                return False  # unterminated IRI: malformed, never split here
            i, ends = j + 1, False
            continue
        if c in "\"'":
            # both quote styles: a '.' inside 'sentence. # x' must not
            # count as a terminator, and the '#' inside the literal must
            # not read as a comment (one-line long strings degrade to
            # adjacent short-literal scans, which still never leave a
            # terminator-looking '.' unguarded — the closing quotes
            # following any interior '.' reset `ends`)
            q = c
            i += 1
            while i < n and line[i] != q:
                i += 2 if line[i] == "\\" else 1
            if i >= n:
                return False  # unterminated literal (or a long string)
            i, ends = i + 1, False
            continue
        if c == ".":
            nxt = line[i + 1] if i + 1 < n else " "
            ends = nxt.isspace() or nxt == "#"
            i += 1
            continue
        if not c.isspace():
            ends = False
        i += 1
    return ends


def _ttl_line_significant(line: str) -> bool:
    s = line.lstrip()
    return bool(s) and not s.startswith("#")


def _ttl_prev_line_is_boundary(f, pos: int) -> bool:
    """Is the nearest significant line ENDING at or before byte ``pos`` a
    statement boundary? Reads backward in blocks to true line starts, so
    every classified line is seen in full — the failure mode of
    classifying a line's arbitrary tail (a seek landing mid-literal flips
    the scanner's state) cannot occur. Blank/comment lines are
    transparent: a statement may be preceded by any number of them."""
    scan_from = max(0, pos - _MAX_TTL_LINE)
    f.seek(scan_from)
    block = f.read(pos - scan_from)
    lines = block.split(b"\n")
    # lines[0] may be a partial line (unless we reached offset 0) — never
    # classify it; if everything above it is blank we fall through to True
    # only when scan_from == 0 (file head = statement start).
    first = 0 if scan_from == 0 else 1
    for raw in reversed(lines[first:]):
        text = raw.decode("utf-8", "replace")
        if _ttl_line_significant(text):
            return _ttl_line_ends_statement(text)
    if scan_from == 0:
        return True  # only blanks/comments before pos → next line starts one
    raise ValueError(
        f"no line break within {_MAX_TTL_LINE} bytes before offset {pos}; "
        "line too long for the distributed Turtle reader")


def _read_chunk_statements(path: str, start: int, end: int) -> str:
    """Return the text of exactly the statements OWNED by byte range
    [start, end): a line is owned by the range containing its first byte
    (the line containing ``start-1`` belongs to the previous range), and
    a statement is owned by the range owning its first significant line.
    The owner reads past ``end`` to finish its last statement; the next
    range skips those continuation lines symmetrically. Ranges compose to
    a partition of the file's statements with no overlap and no gaps."""
    with open(path, "rb") as f:
        pos = start
        if start > 0:
            # align to the first line starting at or after `start`
            f.seek(start - 1)
            pos += len(f.readline()) - 1
            if pos >= end:
                return ""
            if not _ttl_prev_line_is_boundary(f, pos):
                # mid-statement: its first line is owned by the previous
                # range, which parses it — skip through its terminator
                f.seek(pos)
                while True:
                    line = f.readline()
                    if not line:
                        return ""
                    pos += len(line)
                    if _ttl_line_ends_statement(
                            line.decode("utf-8", "replace")):
                        break
                if pos >= end:
                    return ""
            f.seek(pos)
        buf: list[bytes] = []
        open_stmt = False  # significant content since the last boundary?
        while True:
            line_start = pos
            line = f.readline()
            if not line:
                break
            if line_start >= end and not open_stmt:
                break  # next statement's first line → next range owns it
            pos += len(line)
            buf.append(line)
            text = line.decode("utf-8", "replace")
            if _ttl_line_significant(text):
                open_stmt = not _ttl_line_ends_statement(text)
        return b"".join(buf).decode("utf-8")


def read_turtle_distributed(
    spark: SparkSession,
    path: str,
    target_chunk_bytes: int = 32 << 20,
    header_scan_bytes: int = 1 << 20,
) -> DataFrame:
    """Distributed Turtle scan: plan byte-range chunks driver-side (file
    metadata only — no data read beyond the prefix header), align each
    chunk to statement boundaries inside its task, parse with the SAME
    parse_turtle the driver path uses, one chunk per task via
    mapInPandas. ``path`` may be a single ``.ttl`` file or a directory of
    them (e.g. a sharded export); hidden/_-prefixed members are skipped.

    Equivalent to ``parse_turtle`` on the supported subset (pytest asserts
    set-equality against the driver parser on a multi-MB generated dump,
    chunked small enough to exercise every alignment path)."""
    import os

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, n) for n in os.listdir(path)
            if not n.startswith((".", "_")))
    else:
        files = [path]
    plan: list[tuple[int, str, int, int, str]] = []
    # saturate the cluster even for mid-size files: at least 2 chunks per
    # core (down to a 1 MB floor — the python tokenizer costs ~3 MB/s per
    # core, so sub-MB chunks would be all task overhead). Measured on a
    # 116 MB dump at local[32]: 2 MB chunks = 22.8 MB/s / 900k triples/s,
    # 6.9× the driver parser; the 32 MB default alone gave only 4 tasks.
    par = spark.sparkContext.defaultParallelism
    for fp in files:
        size = os.path.getsize(fp)
        if size == 0:
            continue
        with open(fp, "rb") as f:
            # strip a UTF-8 BOM like parse_turtle does — otherwise the
            # leading '@prefix' line fails the decl-line match and the
            # header comes back empty (every chunk then errors)
            head = f.read(min(size, header_scan_bytes)).decode(
                "utf-8", "replace").lstrip("\ufeff")
        header = "\n".join(
            _ttl_header_decls(head, truncated=size > header_scan_bytes))
        n_chunks = max(-(-size // target_chunk_bytes),
                       min(2 * par, -(-size // (1 << 20))))
        step = -(-size // n_chunks)
        # plan index = chunk's anon-bnode seed: deterministic and
        # collision-free across chunks AND shard files (a crc/hash of
        # the path would collide at the birthday bound over many
        # shards, silently conflating unrelated [ … ] nodes). base_idx
        # is captured BEFORE extend — len(plan) inside the generator
        # would grow as extend consumes it, skipping and duplicating
        # indices across files.
        base_idx = len(plan)
        plan.extend(
            (base_idx + k, fp, lo, min(lo + step, size), header)
            for k, lo in enumerate(range(0, size, step)))
    if not plan:
        return spark.createDataFrame([], TRIPLES_SCHEMA)

    cols = [f.name for f in TRIPLES_SCHEMA.fields]

    def parse_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                # Detection of the unsupported construct must be on the
                # RAW byte range, not the aligned statement text: a chunk
                # wholly interior to a multi-MB long string contains no
                # delimiter at all (its garbage would only *probably*
                # fail the tokenizer's coverage check). Every line starts
                # in exactly one range, the scan reads owned lines in
                # full, and the first opener's line always starts at top
                # level — so the opener's owning task ALWAYS raises, and
                # '\"\"\"' inside a one-line literal or comment is never a
                # false positive.
                if _range_has_longstring(r.file, r.start, r.end):
                    raise ValueError(
                        "triple-quoted (multi-line) Turtle literals break "
                        "statement-aligned chunking and are not supported "
                        "by the distributed reader; use parse_turtle "
                        "(driver-side, supports them) or convert to "
                        "N-Triples")
                text = _read_chunk_statements(r.file, r.start, r.end)
                if not text.strip():
                    continue
                hdr_decls = {
                    _ttl_decl_key(m) for m in _TTL_DECL_LINE.finditer(r.header)}
                if r.start == 0:
                    # the file-head chunk physically contains the leading
                    # declaration block the header re-supplies: strip it
                    # (parsing it twice double-applies a relative @base)
                    # after verifying the header covers every line of it
                    # (it may not if the block outgrew header_scan_bytes)
                    text = text.lstrip("\ufeff")
                    decls, text = _ttl_strip_leading_decls(text)
                    for d in decls:
                        key = _ttl_decl_key(_TTL_DECL_LINE.match(d))
                        if key not in hdr_decls:
                            raise ValueError(
                                f"declaration {d.strip()!r} falls outside "
                                "the header scan window; raise "
                                "header_scan_bytes or use parse_turtle")
                # any other declaration is mid-file — it would bind in its
                # owning chunk but not in later ones (and an identical-text
                # relative @base redeclaration compounds in the driver
                # parser), silently diverging; refuse loudly instead
                m = _TTL_DECL_LINE.search(text)
                if m is not None:
                    raise ValueError(
                        f"@prefix/@base outside the file's leading "
                        f"declaration block ({m.group(0).strip()!r}) is "
                        "not supported by the distributed reader; use "
                        "parse_turtle or move declarations to the header")
                rows = parse_turtle(r.header + "\n" + text,
                                    bnode_seed=str(r.idx))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    chunks = spark.createDataFrame(
        plan, "idx long, file string, start long, end long, header string"
    ).repartition(len(plan))
    return chunks.mapInPandas(parse_chunks, schema=TRIPLES_SCHEMA)


# ---------------------------------------------------------------------------
# RDF/XML (driver-side, for OWL vocabularies — A2)
# ---------------------------------------------------------------------------

def _tag_iri(tag: str) -> str:
    # ElementTree tags look like '{namespace}local'
    return tag[1:].replace("}", "", 1) if tag.startswith("{") else tag


def parse_rdfxml(text: str) -> list[tuple]:
    root = ET.fromstring(text)
    rows: list[tuple] = []
    counter = [0]
    base = root.attrib.get("{http://www.w3.org/XML/1998/namespace}base", "")

    def new_bnode() -> str:
        counter[0] += 1
        return f"_:genid{counter[0]}"

    def resolve(ref: str) -> str:
        if ref.startswith("#"):
            return base + ref
        return ref

    def node_id(el: ET.Element) -> str:
        about = el.attrib.get(f"{{{RDF_NS}}}about")
        if about is not None:
            return resolve(about)
        rid = el.attrib.get(f"{{{RDF_NS}}}ID")
        if rid is not None:
            return resolve("#" + rid)
        nid = el.attrib.get(f"{{{RDF_NS}}}nodeID")
        if nid is not None:
            return f"_:{nid}"
        return new_bnode()

    def walk_node(el: ET.Element) -> str:
        subj = node_id(el)
        kind = subj.startswith("_:") and "bnode" or "iri"
        tag = _tag_iri(el.tag)
        if tag != f"{RDF_NS}Description":
            rows.append((subj, f"{RDF_NS}type", tag, "iri", None, None))
        # property attributes (other than rdf: syntax attrs)
        for k, v in el.attrib.items():
            iri = _tag_iri(k) if k.startswith("{") else k
            if iri.startswith(RDF_NS) or iri.startswith("http://www.w3.org/XML"):
                continue
            rows.append((subj, iri, v, "literal", None, None))
        for prop_el in el:
            pred = _tag_iri(prop_el.tag)
            ptype = prop_el.attrib.get(f"{{{RDF_NS}}}parseType")
            res = prop_el.attrib.get(f"{{{RDF_NS}}}resource")
            pnid = prop_el.attrib.get(f"{{{RDF_NS}}}nodeID")
            if ptype == "Collection":
                items = [walk_node(c) for c in prop_el]
                head = new_bnode() if items else f"{RDF_NS}nil"
                rows.append((subj, pred, head, "bnode" if items else "iri",
                             None, None))
                cur = head
                for j, item in enumerate(items):
                    ik = "bnode" if item.startswith("_:") else "iri"
                    rows.append((cur, f"{RDF_NS}first", item, ik, None, None))
                    nxt = new_bnode() if j + 1 < len(items) else f"{RDF_NS}nil"
                    rows.append((cur, f"{RDF_NS}rest", nxt,
                                 "bnode" if j + 1 < len(items) else "iri",
                                 None, None))
                    cur = nxt
            elif ptype == "Resource":
                # anonymous node with nested property elements
                inner = new_bnode()
                rows.append((subj, pred, inner, "bnode", None, None))
                fake = ET.Element(f"{{{RDF_NS}}}Description",
                                  {f"{{{RDF_NS}}}nodeID": inner[2:]})
                fake.extend(list(prop_el))
                walk_node(fake)
            elif res is not None:
                rows.append((subj, pred, resolve(res), "iri", None, None))
            elif pnid is not None:
                rows.append((subj, pred, f"_:{pnid}", "bnode", None, None))
            elif len(prop_el) > 0:
                obj = walk_node(prop_el[0])
                rows.append((subj, pred, obj,
                             "bnode" if obj.startswith("_:") else "iri",
                             None, None))
            else:
                dt = prop_el.attrib.get(f"{{{RDF_NS}}}datatype")
                lang = prop_el.attrib.get(
                    "{http://www.w3.org/XML/1998/namespace}lang")
                if lang:
                    dt = f"{RDF_NS}langString"
                rows.append((subj, pred, prop_el.text or "", "literal",
                             dt, lang))
        return subj

    for child in root:
        walk_node(child)
    return rows
