"""spark-submit entrypoint for the KG-construction + DQA pipeline.

Engine equivalent of the reference CLI (/root/reference/main.py:59-75,
`python3 main.py -d <dataset> -ra`), re-shaped for a cluster:

    spark-submit --py-files engine.zip main.py construct \
        --docs s3://bucket/docs/ --dictionary dict.parquet --workdir kg/
    spark-submit --py-files engine.zip main.py dqa \
        --triples kg/triples.parquet --vocab pizza.xml --metadata void.ttl \
        --base-uri http://example.org/pizza# --output results/

`construct` resumes from the last committed snapshot in --workdir: each
stage writes a fresh dir under its stage path, then one durable line in
`manifest.jsonl` names it, so a killed run leaves only an unnamed dir and
a re-run with the same workdir reads what the last lines name. A finished
workdir holds one dir per stage, so `<workdir>/triples.parquet` reads as
the KG. `dqa` emits the reference-shaped report CSV + JSON plus a profile
JSON.

Packaging: `python main.py --make-pyfiles engine.zip` zips the package for
--py-files; on the sandbox the repo dir on PYTHONPATH works as-is.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(args):
    from shacl_dqa_prototype_spark.session import get_spark

    return get_spark(
        app_name=f"kg-dqa:{args.cmd}",
        cores=args.master or None,
        shuffle_partitions=args.shuffle_partitions,
    )


_TTL_DISTRIBUTED_MIN_BYTES = 8 << 20  # below this, driver parse is faster


def _ttl_has_long_strings(path: str) -> bool:
    """Streaming scan for a top-level triple-quote delimiter — the serial
    driver-side routing cost, so it runs BLOCK-wise: an 8 MB `in` check
    (memchr speed, ~1 GB/s) per block, with the exact per-line scan only
    on the rare block containing a candidate (per-line iteration over the
    whole file measured 10× slower, ~98 MB/s — a real tax at multi-GB).
    Exact, not approximate: '\"\"\"' inside a one-line literal or a
    comment does NOT force the slow driver path, and every line up to the
    first real opener starts outside any token, so the opener itself is
    always classified correctly. Blocks are cut at line boundaries, so
    every line is classified whole, exactly once."""
    from shacl_dqa_prototype_spark.sources.rdf import _ttl_line_longstring_delim

    with open(path, "rb") as f:
        rem = b""
        while True:
            block = f.read(8 << 20)
            data = rem + block
            if block:
                cut = data.rfind(b"\n") + 1
                rem, data = data[cut:], data[:cut]
            else:
                rem = b""
            if (b'"""' in data or b"'''" in data) and any(
                    (b'"""' in ln or b"'''" in ln)
                    and _ttl_line_longstring_delim(
                        ln.decode("utf-8", "replace"))
                    for ln in data.split(b"\n")):
                return True
            if not block:
                return False


def _read_rdf(spark, path: str, fmt: str | None = None,
              need_rows: bool = False):
    """RDF reader; format from `fmt` (reference config `graph_file_format`:
    ttl/nt/xml/n3) or sniffed from the extension. Large `.ttl` data
    graphs read distributed (statement-aligned byte-range chunks on every
    core) unless the caller needs the driver-side row list (vocab/metadata
    graphs — KB–MB) or the file uses multi-line long strings, which only
    the driver parser supports."""
    import os as _os

    from shacl_dqa_prototype_spark.sources import rdf

    fmt = fmt or ""
    if fmt in ("nt", "ntriples") or (not fmt and path.endswith((".nt", ".ntriples"))):
        # RDF graphs are sets (rdflib semantics) — dedupe on read
        df = rdf.read_ntriples(spark, path).dropDuplicates()
        if need_rows:
            # vocab/metadata callers need the driver row list; returning
            # rows=None here silently turned an .nt vocabulary into an
            # EMPTY graph (mine_vocab([]) → empty namespace → the whole
            # vocab report garbled). Vocab graphs are KB–MB, so the
            # collect is the same size as the other driver-side parsers.
            return None, [tuple(r) for r in df.collect()]
        return df, None
    if fmt in ("ttl", "n3", "turtle") or (
            not fmt and path.endswith((".ttl", ".n3", ".turtle"))):
        if (not need_rows
                and _os.path.getsize(path) >= _TTL_DISTRIBUTED_MIN_BYTES
                and not _ttl_has_long_strings(path)):
            return rdf.read_turtle_distributed(spark, path).dropDuplicates(), None
        rows = rdf.parse_turtle(open(path, encoding="utf-8").read())
    elif fmt in ("xml", "rdfxml", "owl") or (
            not fmt and path.endswith((".xml", ".rdf", ".owl"))):
        rows = rdf.parse_rdfxml(open(path, encoding="utf-8").read())
    else:
        raise SystemExit(f"unknown RDF format: {fmt or path}")
    rows = list(dict.fromkeys(map(tuple, rows)))
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

    return spark.createDataFrame(rows, TRIPLES_SCHEMA), rows


def _apply_ini(args) -> None:
    """Overlay a reference-format INI config (config/*.ini; keys read at
    dq_assessment.py:40-86) onto the dqa arguments. Explicit CLI flags
    win over INI values; relative paths resolve against the INI's
    directory, so `--config /path/to/reference-style/pizza.ini` works
    unmodified."""
    import configparser

    cp = configparser.ConfigParser()
    if not cp.read(args.config):
        raise SystemExit(f"config file not found: {args.config}")
    st = cp["settings"]
    base = os.path.dirname(os.path.abspath(args.config))

    def path_of(v: str) -> str:
        """Reference INIs are root-relative (`datasets/pizza/data.ttl` with
        the INI in `config/`); try INI dir, its parent, then CWD."""
        if os.path.isabs(v):
            return v
        for root in (base, os.path.dirname(base), os.getcwd()):
            cand = os.path.normpath(os.path.join(root, v))
            if os.path.exists(cand):
                return cand
        return os.path.normpath(os.path.join(base, v))

    if not args.triples:
        args.triples = path_of(st["graph_file"])
        args.triples_format = st.get("graph_file_format")
    if not args.metadata and st.get("metadata_file"):
        args.metadata = path_of(st["metadata_file"])
        args.metadata_format = st.get("metadata_file_format")
    args.dataset_name = args.dataset_name or st.get("dataset_name", "dataset")
    args.base_uri = args.base_uri or st.get("base_namespace")
    args.metadata_class = args.metadata_class or st.get("metadata_class")
    args.type_property = args.type_property or st.get("type_property")
    args.labeling_property = args.labeling_property or st.get("labeling_property")
    args.description_property = (
        args.description_property or st.get("description_property"))
    args.interlinking_property = (
        args.interlinking_property or st.get("interlinking_property"))
    if args.uris_max_length is None and st.get("uris_max_length"):
        args.uris_max_length = int(st["uris_max_length"])
    if not args.vocab and st.get("vocabularies"):
        for vname in [v.strip() for v in st["vocabularies"].split(",") if v.strip()]:
            sec = cp[vname]
            args.vocab.append(path_of(sec["file_path"]))
            args.vocab_names.append(sec.get("vocab_name", vname))
            args.vocab_formats.append(sec.get("file_format"))


def cmd_construct(args) -> None:
    from shacl_dqa_prototype_spark.plans.construction import run_construction
    from shacl_dqa_prototype_spark.schemas import ENTITY_DICTIONARY_SCHEMA

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    dictionary = (
        spark.read.parquet(args.dictionary)
        if args.dictionary
        else spark.createDataFrame([], ENTITY_DICTIONARY_SCHEMA)
    )
    t0 = time.time()
    res = run_construction(
        spark, docs, dictionary, args.workdir,
        n_buckets=args.buckets, resume=not args.no_resume,
    )
    n = spark.read.parquet(res.triples_path).count()
    print(json.dumps({
        "triples_path": res.triples_path,
        "stages_run": res.stages_run,
        "stages_resumed": res.stages_resumed,
        "stage_seconds": res.stage_seconds,
        "n_triples": n,
        "sec": round(time.time() - t0, 2),
        "triples_per_sec": round(n / max(time.time() - t0, 1e-9), 1),
    }))


def cmd_curate(args) -> None:
    """documents parquet → quality gate → domain filter → near-dup removal
    (LSH + keep-best-quality) → PII redaction → curated parquet. The whole
    training-data curation pipeline as one spark-submit job; prints a
    per-stage survivor-count JSON line. Each stage is checkpointed so its
    operators evaluate exactly once (plans/curate.py)."""
    from shacl_dqa_prototype_spark.plans.curate import curate_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    res = curate_corpus(
        docs,
        ngram=args.ngram,
        max_dup_word_frac=args.max_dup_word_frac,
        min_source_docs=args.min_source_docs,
        source_filter=not args.skip_source_filter,
        collect_stats=not getattr(args, "no_stats", False),
    )
    res.survivors.write.mode("overwrite").parquet(args.output)
    res.unpersist()
    stats = dict(res.stats)
    stats["output_path"] = args.output
    print(json.dumps(stats))


def cmd_dqa(args) -> None:
    from shacl_dqa_prototype_spark.functions.terms import OWL, RDF, RDFS
    from shacl_dqa_prototype_spark.plans.constraints import (
        DQAConfig,
        compile_data_constraints,
    )
    from shacl_dqa_prototype_spark.plans.dqa import (
        contextual_config_from_metadata,
        run_metadata_dqa,
    )
    from shacl_dqa_prototype_spark.plans.profile import profile_graph
    from shacl_dqa_prototype_spark.plans.scoring import score_plan
    from shacl_dqa_prototype_spark.plans.vocab import (
        mine_vocab,
        profile_to_vocab_terms,
        subclass_closure,
        tbox_merge_rows,
        vocab_profile_json,
    )
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
    from shacl_dqa_prototype_spark.sources.sinks import (
        write_report_csv,
        write_report_json,
    )

    if args.config:
        _apply_ini(args)
    # Selective runs (reference -rm/-rd/-rv, main.py:22-25 +
    # dq_assessment.py:97-112): a metadata-only assessment needs no data
    # graph at all, so --triples is only required when the data or
    # vocabulary stages actually run.
    run_data = not getattr(args, "skip_data", False)
    run_vocab = not getattr(args, "skip_vocab", False)
    if not args.triples:
        if not args.metadata:
            raise SystemExit(
                "--triples (or --config with graph_file) or --metadata "
                "is required")
        run_data = run_vocab = False  # metadata-only run (reference -rm)
    t_start = time.time()
    timings: dict[str, float] = {}
    spark = _spark(args)
    T_raw = None
    if args.triples:
        if args.triples.endswith(".parquet") or os.path.isdir(args.triples):
            from shacl_dqa_prototype_spark.sources.sinks import read_triples

            T_raw = read_triples(spark, args.triples)
        else:
            T_raw, _ = _read_rdf(spark, args.triples,
                                 getattr(args, "triples_format", None))

    cfg = DQAConfig(
        type_property=args.type_property or f"{RDF}type",
        labeling_property=args.labeling_property or f"{RDFS}label",
        description_property=args.description_property or f"{RDFS}comment",
        interlinking_property=args.interlinking_property or f"{OWL}sameAs",
        uris_max_length=(args.uris_max_length
                         if args.uris_max_length is not None else 80),
        base_uri=args.base_uri,
    )
    # the profile of the RAW graph, before the TBox merge (reference
    # semantics): its keys are the usage sets that prune the data and
    # vocabulary shapes, its tables the data-shape denominators
    profile = None
    used_props = used_classes = None
    if T_raw is not None:
        profile = profile_graph(
            T_raw, cfg.type_property, cfg.labeling_property,
            cfg.description_property, cfg.interlinking_property)
        used_props, used_classes = profile.usage_sets()

    terms, disjoint = [], []
    sub_pairs = None
    T = T_raw
    vocab_graphs: list[tuple[str, list[tuple]]] = []
    vocab_profiles: dict[str, object] = {}
    if args.vocab:
        vnames = list(getattr(args, "vocab_names", []) or [])
        vfmts = list(getattr(args, "vocab_formats", []) or [])
        vocab_rows = []
        for i, vp in enumerate(args.vocab):
            _, rows = _read_rdf(spark, vp, vfmts[i] if i < len(vfmts) else None,
                                need_rows=True)
            name = (vnames[i] if i < len(vnames)
                    else os.path.splitext(os.path.basename(vp))[0])
            vocab_graphs.append((name, rows or []))
            vocab_profiles[name] = mine_vocab(rows or [])
            vocab_rows.extend(rows or [])
        # per-vocabulary profile JSON sink (reference utils.py:643-645,
        # main.py:55-56: profile/vocabularies/<name>.json per vocab)
        vdir = os.path.join(args.output, "profile", "vocabularies")
        os.makedirs(vdir, exist_ok=True)
        for name, pv in vocab_profiles.items():
            with open(os.path.join(vdir, f"{name}.json"), "w",
                      encoding="utf-8") as f:
                json.dump(vocab_profile_json(pv), f, indent=4)
        prof_v = mine_vocab(vocab_rows)
        terms, disjoint = profile_to_vocab_terms(prof_v)
        if T_raw is not None:
            merged = tbox_merge_rows(vocab_rows, prof_v.classes)
            T = T_raw.unionByName(
                spark.createDataFrame(merged, TRIPLES_SCHEMA)).dropDuplicates()
        # sh:class follows the vocab subClassOf closure
        sub_pairs = subclass_closure(vocab_rows) or None

    reports = []
    if args.metadata:
        t0 = time.time()
        metadata, _ = _read_rdf(spark, args.metadata,
                                getattr(args, "metadata_format", None))
        cfg = contextual_config_from_metadata(metadata, cfg)
        reports.append(run_metadata_dqa(
            spark, metadata,
            **({"metadata_class": args.metadata_class}
               if args.metadata_class else {})))
        timings["metadata_shapes_elapsed_time"] = time.time() - t0

    if run_vocab and args.vocab and used_classes is not None:
        from shacl_dqa_prototype_spark.plans.dqa import run_vocab_dqa

        t0 = time.time()
        for name, rows in vocab_graphs:
            reports.append(run_vocab_dqa(
                spark, name, rows, used_classes, used_props,
                labeling_property=cfg.labeling_property,
                profile=vocab_profiles.get(name)))
        timings["vocab_shapes_elapsed_time"] = time.time() - t0

    plan = None
    if run_data and T is not None:
        t0 = time.time()
        plan = compile_data_constraints(T, terms, disjoint, cfg,
                                        subclass_pairs=sub_pairs)
        reports.append(score_plan(spark, plan, profile, target="data"))
    if not reports:
        raise SystemExit("nothing to run: every stage was skipped")

    from functools import reduce

    # every stage report is a local relation of driver rows
    # (scoring.report_frame), so the CSV write, the JSON write and the
    # collect below re-run no aggregation and need no cache
    report = reduce(lambda a, b: a.unionByName(b), reports)
    os.makedirs(args.output, exist_ok=True)
    write_report_csv(report, os.path.join(args.output, "dq_report_csv"))
    write_report_json(report, os.path.join(args.output, "dq_report_json"))
    # reference-shaped 15-column rollup CSV (dq_assessment.py:1283-1290)
    from shacl_dqa_prototype_spark.plans.report_csv import (
        reference_csv_rows,
        write_reference_csv,
    )

    report_rows = report.collect()
    if plan is not None:
        timings["data_shapes_elapsed_time"] = time.time() - t0

    # A7 — instantiated shapes graphs as Turtle (reference
    # dq_assessment.py:156-159, 212-218, 255-258)
    from shacl_dqa_prototype_spark.plans.shapes_ttl import (
        data_shapes_ttl,
        metadata_shapes_ttl,
        vocabulary_shapes_ttl,
    )
    from shacl_dqa_prototype_spark.plans.vocab_shapes import namespace_terms

    shapes_dir = os.path.join(args.output, "shapes")
    os.makedirs(shapes_dir, exist_ok=True)
    if plan is not None:
        with open(os.path.join(shapes_dir, "data_shapes.ttl"), "w") as f:
            f.write(data_shapes_ttl(terms, disjoint, cfg,
                                    used_props, used_classes))
    if args.metadata:
        from shacl_dqa_prototype_spark.functions.terms import VOID

        with open(os.path.join(shapes_dir, "metadata_shapes.ttl"), "w") as f:
            f.write(metadata_shapes_ttl(
                args.metadata_class or f"{VOID}Dataset"))
    if run_vocab and used_classes is not None:
        for name, rows in vocab_graphs:
            ns = vocab_profiles[name].namespace
            with open(os.path.join(
                    shapes_dir, f"vocabulary_shapes_{name}.ttl"), "w") as f:
                f.write(vocabulary_shapes_ttl(
                    cfg.labeling_property, cfg.type_property,
                    namespace_terms(ns, used_classes),
                    namespace_terms(ns, used_props)))

    # reference file naming: dq_assessment_<dataset>.csv with the name
    # lowercased and spaces underscored (dq_assessment.py:61-62, 1280)
    ds = (args.dataset_name or "").lower().replace(" ", "_")
    csv_name = f"dq_assessment_{ds}.csv" if ds else "dq_assessment.csv"
    write_reference_csv(
        reference_csv_rows(report_rows, uris_max_length=cfg.uris_max_length),
        os.path.join(args.output, csv_name))
    if profile is not None:
        with open(os.path.join(args.output, "profile.json"), "w") as f:
            json.dump(profile.as_dict(), f, indent=2)

    # run_info.json bookkeeping (reference main.py:34-53): per-stage
    # timings + instantiated-shape count + the graph profile, keyed by
    # dataset name and merged into any existing file.
    run_info_path = os.path.join(args.output, "run_info.json")
    run_info = {}
    if os.path.exists(run_info_path):
        with open(run_info_path, encoding="utf-8") as f:
            run_info = json.load(f)
    run_info[args.dataset_name or "dataset"] = {
        "total_elapsed_time": time.time() - t_start,
        "vocab_shapes_elapsed_time": timings.get("vocab_shapes_elapsed_time", 0.0),
        "data_shapes_elapsed_time": timings.get("data_shapes_elapsed_time", 0.0),
        "metadata_shapes_elapsed_time": timings.get(
            "metadata_shapes_elapsed_time", 0.0),
        "num_inst_shapes": sum(r["target"] == "data"
                               and r["score_kind"] != "meta"
                               for r in report_rows),
        "graph_profile": profile.as_dict() if profile is not None else {},
    }
    with open(run_info_path, "w", encoding="utf-8") as f:
        json.dump(run_info, f, indent=4)
    print(json.dumps({
        "report_rows": len(report_rows), "output": args.output,
        "profile": profile.as_dict() if profile is not None else {}}))


def cmd_dqa_append(args) -> None:
    """Incremental DQA as a spark-submit surface: fold an appended triple
    delta (parquet dir or RDF file) into a persistent state directory —
    one appended merge-on-read level per state table, idempotent per
    --delta-id — and optionally emit the fully scored report re-derived
    from STATE ALONE (zero historical-triple scans; plans/incremental.py).
    Repeated appends to the same --state keep the report exactly equal to
    a batch `dqa` run over the union of all deltas (asserted in tests)."""
    from shacl_dqa_prototype_spark.functions.terms import OWL, RDF, RDFS
    from shacl_dqa_prototype_spark.plans.constraints import DQAConfig
    from shacl_dqa_prototype_spark.plans.incremental import (
        IncrementalDQAState,
        apply_delta,
        score_from_state,
    )
    from shacl_dqa_prototype_spark.plans.vocab import (
        mine_vocab,
        profile_to_vocab_terms,
        subclass_closure,
    )

    spark = _spark(args)
    if args.delta.endswith(".parquet") or os.path.isdir(args.delta):
        from shacl_dqa_prototype_spark.sources.sinks import read_triples

        try:
            delta = read_triples(spark, args.delta)
        except Exception:
            delta = spark.read.parquet(args.delta)
    else:
        delta, _ = _read_rdf(spark, args.delta, None)

    terms, disjoint, sub_pairs = [], [], None
    if args.vocab:
        rows: list[tuple] = []
        for vp in args.vocab:
            _, r = _read_rdf(spark, vp, None, need_rows=True)
            rows.extend(r or [])
        prof_v = mine_vocab(rows)
        terms, disjoint = profile_to_vocab_terms(prof_v)
        sub_pairs = subclass_closure(rows) or None
    cfg = DQAConfig(
        type_property=args.type_property or f"{RDF}type",
        labeling_property=args.labeling_property or f"{RDFS}label",
        description_property=args.description_property or f"{RDFS}comment",
        interlinking_property=args.interlinking_property or f"{OWL}sameAs",
        uris_max_length=(args.uris_max_length
                         if args.uris_max_length is not None else 80),
        base_uri=args.base_uri,
    )
    state = IncrementalDQAState.open(spark, args.state)
    t0 = time.time()
    apply_delta(state, delta, cfg, terms, delta_id=args.delta_id)
    out = {"state": args.state, "apply_sec": round(time.time() - t0, 2)}
    if args.report:
        from shacl_dqa_prototype_spark.plans.report_csv import (
            reference_csv_rows,
            write_reference_csv,
        )

        t0 = time.time()
        rep = score_from_state(state, terms, cfg, disjoint_pairs=disjoint,
                               subclass_pairs=sub_pairs)
        report_rows = rep.collect()
        os.makedirs(args.report, exist_ok=True)
        ds = (args.dataset_name or "").lower().replace(" ", "_")
        csv_name = f"dq_assessment_{ds}.csv" if ds else "dq_assessment.csv"
        write_reference_csv(
            reference_csv_rows(report_rows,
                               uris_max_length=cfg.uris_max_length),
            os.path.join(args.report, csv_name))
        out["report_rows"] = len(report_rows)
        out["report_sec"] = round(time.time() - t0, 2)
        out["report"] = args.report
    print(json.dumps(out))


def make_pyfiles(zip_path: str) -> None:
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "shacl_dqa_prototype_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    print(f"wrote {zip_path}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--make-pyfiles", metavar="ZIP", help="package for --py-files")
    sub = ap.add_subparsers(dest="cmd")

    def common(p):
        p.add_argument("--master", default=None,
                       help="core count or master URL (default: local[*])")
        p.add_argument("--shuffle-partitions", type=int, default=None)

    pc = sub.add_parser("construct", help="documents → triple table")
    common(pc)
    pc.add_argument("--docs", required=True, help="documents parquet path")
    pc.add_argument("--dictionary", help="entity dictionary parquet path")
    pc.add_argument("--workdir", required=True)
    pc.add_argument("--buckets", type=int, default=32)
    pc.add_argument("--no-resume", action="store_true")

    pcu = sub.add_parser(
        "curate", help="documents → gated/deduped/redacted training corpus")
    common(pcu)
    pcu.add_argument("--docs", required=True, help="documents parquet path")
    pcu.add_argument("--output", required=True)
    pcu.add_argument("--ngram", type=int, default=5,
                     help="shingle size for near-dup LSH")
    pcu.add_argument("--max-dup-word-frac", type=float, default=0.9)
    pcu.add_argument("--min-source-docs", type=int, default=5)
    pcu.add_argument("--skip-source-filter", action="store_true")
    pcu.add_argument("--no-stats", action="store_true",
                     help="skip per-stage survivor counts (stages are "
                          "checkpointed either way)")

    pa = sub.add_parser(
        "dqa-append",
        help="fold a triple delta into incremental-DQA state "
             "(+ optional scored report from state alone)")
    common(pa)
    pa.add_argument("--state", required=True,
                    help="incremental-DQA state directory")
    pa.add_argument("--delta", required=True,
                    help="appended triples: parquet dir OR RDF file")
    pa.add_argument("--delta-id",
                    help="stable id making the apply idempotent on retry")
    pa.add_argument("--report",
                    help="also emit the scored report (from state alone) "
                         "to this directory")
    pa.add_argument("--vocab", action="append", default=[],
                    help="vocabulary file (repeatable)")
    pa.add_argument("--dataset-name")
    pa.add_argument("--base-uri")
    pa.add_argument("--type-property")
    pa.add_argument("--labeling-property")
    pa.add_argument("--description-property")
    pa.add_argument("--interlinking-property")
    pa.add_argument("--uris-max-length", type=int, default=None)

    pd_ = sub.add_parser("dqa", help="triple table → conformance report")
    common(pd_)
    pd_.add_argument("--config",
                     help="reference-format INI config (config/*.ini); "
                          "CLI flags override its values")
    pd_.add_argument("--triples",
                     help="triple parquet dir OR RDF file (ttl/nt/xml)")
    pd_.add_argument("--vocab", action="append", default=[],
                     help="vocabulary file (repeatable)")
    pd_.add_argument("--metadata", help="VoID metadata file")
    pd_.add_argument("--output", required=True)
    pd_.add_argument("--dataset-name")
    pd_.add_argument("--base-uri")
    pd_.add_argument("--metadata-class")
    pd_.add_argument("--type-property")
    pd_.add_argument("--labeling-property")
    pd_.add_argument("--description-property")
    pd_.add_argument("--interlinking-property")
    pd_.add_argument("--uris-max-length", type=int, default=None)
    pd_.add_argument("--skip-data", action="store_true",
                     help="skip the data-shapes stage (reference -rm/-rv "
                          "selective runs)")
    pd_.add_argument("--skip-vocab", action="store_true",
                     help="skip the vocabulary-shapes stage")
    pd_.set_defaults(triples_format=None, metadata_format=None,
                     vocab_names=[], vocab_formats=[])

    args = ap.parse_args(argv)
    if args.make_pyfiles:
        make_pyfiles(args.make_pyfiles)
        return
    if args.cmd == "construct":
        cmd_construct(args)
    elif args.cmd == "curate":
        cmd_curate(args)
    elif args.cmd == "dqa":
        cmd_dqa(args)
    elif args.cmd == "dqa-append":
        cmd_dqa_append(args)
    else:
        ap.print_help()
        raise SystemExit(2)


if __name__ == "__main__":
    main()
