"""Command-line interface — parity with the reference's `metacat` CLI
(metacat/ui/: metacat_query.py, metacat_file.py, metacat_dataset.py,
metacat_namespace.py, metacat_named_query.py).

    python -m metacat_spark.cli query "files from dune:urgent_0 ..." \
        [--sf-dir DIR] [-m] [-s count|keys|key-values] [-N NS] [-j] \
        [-x] [-l N] [-S/--save-as ns:name] [-A/--add-to ns:name]
    python -m metacat_spark.cli file (declare|declare-many|show|retire|
        update-meta|move|datasets|id|name) ...
    python -m metacat_spark.cli dataset (list|files|show|create|update|
        add-files|remove-files|add-subset|remove) ...
    python -m metacat_spark.cli namespace (list|show|create) ...
    python -m metacat_spark.cli named-query (list|show|create|search) ...
    python -m metacat_spark.cli corpus (analyze|quality|dedup|
        semdedup|admit|contamination|decontaminate|divergence|
        report|stats|select|lm|pack|normalize|chunk|boilerplate|
        redact|scrub|substring|split|mixture|ann|curate|gate|c4|
        publish|verify-manifest) ...
        # beyond-reference; analytic ops dispatch through the shared
        # llm.registry (same table as the HTTP /data/corpus surface)
    python -m metacat_spark.cli events (windowed|sessionize|paths|
        anomalies|funnel|retention) ...   # beyond-reference

The reference CLI talks to a resident metacat server; the equivalent
here is a resident engine — sessions are cached per (sf-dir,
durable-root) at module level, so successive `main()` calls inside
one process (the test harness, a REPL, a notebook) see each other's
mutations, exactly like successive `metacat` invocations against one
server. Separate OS processes each get a fresh catalog UNLESS
`--durable-root DIR` (or SPARK_GRAFT_DURABLE_ROOT) is given: then
every DML mutation also lands in a parquet commit log that is
replayed at startup — the reference's PostgreSQL persistence
(durable.py; `admin compact` folds the log into snapshots).

`-x/--explain` prints the MQL AST, the Spark SQL it compiles to and
the Spark physical plan instead of running (the reference prints its
IRs, metacat_query.py:64-84).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

# (engine, dml) per sf-dir — the "resident server" equivalent
_SESSIONS: dict = {}


def _session(sf_dir: str, durable_root=None, durable_at=None):
    """(engine, dml) per (sf-dir, durable-root[, as-of commit]). With
    a durable root, committed DML state is overlaid onto the fixture
    catalog at build and every mutation appends to the store's commit
    log — the CLI equivalent of the reference's persistent PostgreSQL
    writes. ``durable_at`` attaches a historical commit instead
    (time travel; mutations from it raise CommitConflict)."""
    key = (sf_dir, durable_root, durable_at)
    if key not in _SESSIONS:
        from .catalog import from_tpch
        from .dml import DML
        from .engine import Engine
        from .session import get_spark
        spark = get_spark("metacat_spark_cli")
        cat = from_tpch(spark, sf_dir)
        store = None
        if durable_root:
            from .durable import DurableStore
            store = DurableStore(spark, durable_root, at=durable_at)
            store.attach(cat)
        elif durable_at is not None:
            raise SystemExit("--durable-at needs --durable-root")
        _SESSIONS[key] = (Engine(cat), DML(cat, store=store))
    return _SESSIONS[key]


def _did(s: str) -> tuple[str, str]:
    if ":" not in s:
        raise SystemExit(f"expected <namespace>:<name>, got {s!r}")
    ns, name = s.split(":", 1)
    return ns, name


def _print_rows(df, as_json: bool, limit=None, file=None):
    file = file or sys.stdout
    count = 0
    for row in df.toLocalIterator():
        d = row.asDict(recursive=True)
        if isinstance(d.get("metadata"), str):
            try:
                d["metadata"] = json.loads(d["metadata"])
            except ValueError:
                pass
        # check BEFORE printing: -l 0 must print zero rows, like the
        # server's limit=0 emptiness probe (review r6)
        if limit is not None and count >= limit:
            break
        if as_json:
            print(json.dumps(d, default=str), file=file)
        else:
            print("\t".join(str(v) for v in d.values()), file=file)
        count += 1
    print(f"# {count} rows", file=sys.stderr)
    return count


def _add_sf_dir(p):
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("-j", "--json", action="store_true",
                   help="json-seq output (one object per line)")
    p.add_argument("--durable-root", default=os.environ.get(
        "SPARK_GRAFT_DURABLE_ROOT") or None,
        help="directory of the durable catalog commit log; DML "
             "mutations persist there and are replayed on startup "
             "(default: session-only state)")
    p.add_argument("--durable-at", type=int, default=None,
                   metavar="N",
                   help="time travel: attach the catalog AS OF "
                        "commit N of the durable log (read-only — "
                        "mutations from a historical view raise "
                        "CommitConflict)")


def _meta_arg(s: str) -> dict:
    """Inline JSON or @file, like the reference's metadata arguments
    (metacat_file.py:456-523 accepts a JSON file or expression)."""
    if s.startswith("@"):
        with open(s[1:]) as f:
            return json.load(f)
    return json.loads(s)


def _checksum_arg(s):
    """'<type>:<value>[,...]' → dict (metacat_file.py -k syntax)."""
    if s is None:
        return None
    out = {}
    for part in s.split(","):
        t, _, v = part.partition(":")
        out[t.strip()] = v.strip()
    return out


def _id_list(s):
    """Comma-separated id list; '-' = explicit empty (remove-all with
    --replace, like the reference's `-p -`)."""
    if s is None:
        return None
    if s.strip() == "-":
        return []
    return [x.strip() for x in s.split(",") if x.strip()]


def _registry_params(args) -> dict:
    """Every argparse-parsed value, keyed by dest, under the
    registry's canonical names. Passing vars(args) wholesale (the
    HTTP surface passes its whole query-string dict the same way)
    means a newly added CLI flag reaches the registry without
    touching a mapping table — a hand-maintained name list here
    would recreate exactly the silent drift the registry exists to
    kill (review r7). Surface-local dests (sf_dir, output, limit,
    json, ...) are harmless extras: builders read only their own
    canonical names. The two dests that differ from canonical
    params are renamed."""
    p = {k: v for k, v in vars(args).items() if v is not None}
    if "gap_minutes" in p:
        p["gap"] = p.pop("gap_minutes")
    if "against" in p:
        p["test"] = p.pop("against")
    return p


def _cmd_events(args) -> int:
    """Dispatch the `events` group (beyond-reference analytics over
    the events table) through the SHARED op registry (llm.registry)
    — the same table the HTTP server dispatches from, so the two
    surfaces cannot drift."""
    from .llm.registry import EVENT_OPS, OpContext, OpError
    from .session import get_spark
    from .streaming import events as EV
    spark = get_spark()
    ctx = OpContext(events=lambda: EV.load_events(spark, args.sf_dir),
                    params=_registry_params(args))
    try:
        out = EVENT_OPS[args.ecmd](ctx)
    except OpError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"# wrote {n} rows to {args.output}", file=sys.stderr)
        return 0
    _print_rows(out, args.json, args.limit)
    return 0


def _cmd_corpus(args) -> int:
    """Dispatch the `corpus` group through the SHARED op registry
    (llm.registry — the same table the HTTP server dispatches from,
    so the two surfaces cannot drift): build the operator's DataFrame
    lazily, then either write parquet (-o) or print a bounded head —
    the same consumption contract as the query surface.

    `publish` / `verify-manifest` stay CLI-local: they are filesystem
    actions, not DataFrame builders (and are deliberately absent from
    the GET server surface)."""
    from .llm.export import load_corpus
    from .llm.registry import CORPUS_OPS, OpContext, OpError
    from .session import get_spark
    spark = get_spark()

    if args.ccmd == "publish":
        from .llm.export import export_corpus, to_webdataset
        df = load_corpus(spark,
                         args.input or f"{args.sf_dir}/documents.parquet")
        if args.format == "webdataset":
            shards = to_webdataset(df, args.dest,
                                   n_shards=args.shards)
            print(f"# wrote {len(shards)} tar shards to "
                  f"{args.dest}", file=sys.stderr)
            return 0
        man = export_corpus(df, args.dest, fmt=args.format,
                            n_shards=args.shards)
        print(json.dumps(man))
        return 0
    if args.ccmd == "verify-manifest":
        from .llm.export import verify_manifest
        ok = verify_manifest(spark, args.dest)
        print(json.dumps({"ok": ok}))
        return 0 if ok else 1

    # --input overrides the PRIMARY table path: embeddings for plain
    # ann, documents for everything else (ann --hashed works with NO
    # embeddings table — lazy callables keep that promise, review r6)
    docs_src = args.input or f"{args.sf_dir}/documents.parquet"
    if args.ccmd in ("ann", "cluster-sample") \
            and not getattr(args, "hashed", False):
        embs_src = args.input or f"{args.sf_dir}/embeddings.parquet"
    else:
        embs_src = f"{args.sf_dir}/embeddings.parquet"
    ctx = OpContext(
        docs=lambda: load_corpus(spark, docs_src),
        embs=lambda: load_corpus(spark, embs_src),
        params=_registry_params(args),
        load_corpus=lambda p: load_corpus(spark, p),
        # identity: the CLI reads any local path (same trust model as
        # load_corpus above); the HTTP server installs its jail here
        corpus_path=lambda p: p,
        # path-writing verbs (ann --ingest) are CLI-only
        local_fs=True)
    try:
        out = CORPUS_OPS[args.ccmd](ctx)
    except OpError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    try:
        if args.output:
            # --append grows an existing table (the ann --encode
            # postings add path) instead of replacing it — overwrite
            # would silently destroy previously added rows (review
            # r10)
            mode = ("append" if getattr(args, "append", False)
                    else "overwrite")
            out.write.mode(mode).parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(f"# wrote {n} rows to {args.output}",
                  file=sys.stderr)
            return 0
        _print_rows(out, args.json, args.limit)
    except Exception as e:  # noqa: BLE001 — in-task misuse checks
        # known in-task ValueErrors fire at EXECUTION time (the op
        # builder returned a lazy DataFrame); keep the clean
        # error-message contract instead of a remote traceback
        # (ADVICE r10)
        from .llm.registry import op_error_from_task
        op_err = op_error_from_task(e)
        if op_err is None:
            raise
        print(f"error: {op_err}", file=sys.stderr)
        return 2
    return 0


def build_parser() -> argparse.ArgumentParser:
    """The full CLI parser (extracted from main so tests can
    introspect the exposed corpus/events op sets against the shared
    registry)."""
    p = argparse.ArgumentParser(prog="metacat_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run an MQL query")
    q.add_argument("mql", nargs="?", default=None)
    _add_sf_dir(q)
    q.add_argument("-q", "--query-file", default=None,
                   help="read the MQL text from a file")
    q.add_argument("-m", "--metadata", dest="meta_keys", default=None,
                   metavar="KEYS",
                   help="'all' or comma-separated metadata keys to "
                        "print (metacat_query.py -m)")
    q.add_argument("-p", "-P", "--with-provenance", action="store_true")
    q.add_argument("-s", "--summary", choices=["count", "keys",
                                               "key-values"])
    q.add_argument("--profile", default=None, metavar="KEYS",
                   help="comma list of numeric attributes / dotted "
                        "metadata keys: print a distribution "
                        "profile (count/nulls/min/max/avg/stddev/"
                        "quartiles) of the file set instead of rows")
    q.add_argument("-N", "--namespace", default=None)
    q.add_argument("-r", "--include-retired", action="store_true")
    q.add_argument("-i", "--ids", action="store_true",
                   help="print file ids only")
    q.add_argument("-x", "--explain", action="store_true")
    q.add_argument("-l", "--limit", type=int, default=None,
                   help="client-side cap on printed rows")
    q.add_argument("-o", "--output", default=None, metavar="PATH",
                   help="export the result set to PATH instead of "
                        "printing (distributed write, no driver "
                        "materialization)")
    q.add_argument("-F", "--format", default="parquet",
                   choices=["parquet", "json", "csv"],
                   help="export format for -o (default parquet)")
    q.add_argument("-S", "--save-as", default=None, metavar="NS:NAME",
                   help="save the result as a NEW dataset")
    q.add_argument("-A", "--add-to", default=None, metavar="NS:NAME",
                   help="add the result to an existing dataset")
    q.add_argument("--after-id", default=None, metavar="ID",
                   help="id-cursor pagination: return rows with "
                        "id > ID in id order (scale-safe alternative "
                        "to MQL skip — no global sort)")
    q.add_argument("--page", type=int, default=None, metavar="N",
                   help="page size for --after-id cursor paging")

    fgrp = sub.add_parser("file", help="file operations")
    fsub = fgrp.add_subparsers(dest="fcmd", required=True)

    fd = fsub.add_parser("declare", help="declare one file")
    fd.add_argument("did", help="<namespace>:<name>")
    fd.add_argument("dataset", nargs="?", default=None,
                    help="<dataset namespace>:<dataset name>")
    fd.add_argument("--id", dest="fid", default=None)
    fd.add_argument("--size", type=int, default=0)
    fd.add_argument("--meta", type=_meta_arg, default={},
                    help="JSON metadata ('{...}' or @file)")
    fd.add_argument("-k", "--checksums", default=None,
                    help="<type>:<value>[,...]")
    fd.add_argument("-p", "--parents", default=None,
                    help="comma-separated parent file ids")
    fd.add_argument("-c", "--creator", default="cli")
    _add_sf_dir(fd)

    fds_ = fsub.add_parser("declare-sample",
                           help="print sample declare-many JSON")
    _add_sf_dir(fds_)

    fdm = fsub.add_parser("declare-many",
                          help="bulk declare from a JSON file")
    fdm.add_argument("json_file")
    fdm.add_argument("dataset", nargs="?", default=None)
    _add_sf_dir(fdm)

    fs = fsub.add_parser("show", help="print file record")
    fs.add_argument("spec", help="<namespace>:<name> or file id with -i")
    fs.add_argument("-i", "--id", action="store_true", dest="by_id")
    fs.add_argument("-m", "--with-metadata", action="store_true")
    fs.add_argument("-l", "--with-provenance", action="store_true",
                    help="print parent/child file ids")
    _add_sf_dir(fs)

    fr = fsub.add_parser("retire", help="retire/unretire a file")
    fr.add_argument("spec")
    fr.add_argument("-i", "--id", action="store_true", dest="by_id")
    fr.add_argument("-u", "--unretire", action="store_true")
    _add_sf_dir(fr)

    fu = fsub.add_parser("update-meta", help="update file metadata")
    fu.add_argument("meta", type=_meta_arg,
                    help="JSON metadata ('{...}' or @file)")
    fu.add_argument("spec")
    fu.add_argument("-i", "--id", action="store_true", dest="by_id")
    fu.add_argument("-r", "--replace", action="store_true",
                    help="replace instead of merge")
    _add_sf_dir(fu)

    fup = fsub.add_parser("update",
                          help="update file attributes/provenance")
    fup.add_argument("spec")
    fup.add_argument("-i", "--id", action="store_true", dest="by_id")
    fup.add_argument("-s", "--size", type=int, default=None)
    fup.add_argument("-k", "--checksums", default=None,
                     help="<type>:<value>[,...]")
    fup.add_argument("-m", "--meta", type=_meta_arg, default=None)
    fup.add_argument("-p", "--parents", default=None,
                     help="comma-separated parent ids ('-' = none)")
    fup.add_argument("-c", "--children", default=None,
                     help="comma-separated child ids ('-' = none)")
    fup.add_argument("-r", "--replace", action="store_true")
    _add_sf_dir(fup)

    fad = fsub.add_parser("add", help="add file(s) to a dataset")
    fad.add_argument("specs", nargs="+",
                     help="<ns>:<name> DIDs or file ids (with -i)")
    fad.add_argument("dataset", help="<ns>:<name> target dataset")
    fad.add_argument("-i", "--id", action="store_true", dest="by_id")
    _add_sf_dir(fad)

    fm = fsub.add_parser("move", help="move files to a new namespace")
    fm.add_argument("-n", "--namespace", required=True)
    fm.add_argument("fids", nargs="+")
    _add_sf_dir(fm)

    fds = fsub.add_parser("datasets",
                          help="datasets containing a file")
    fds.add_argument("spec")
    fds.add_argument("-i", "--id", action="store_true", dest="by_id")
    _add_sf_dir(fds)

    fid = fsub.add_parser("id", help="print file id for a DID")
    fid.add_argument("did")
    _add_sf_dir(fid)

    fst = fsub.add_parser("declare-stream",
                          help="drain a directory of JSON-lines "
                               "declare batches through the DML path "
                               "(continuous catalog ingest; "
                               "redelivered batches skip whole via "
                               "the file-id PK)")
    fst.add_argument("src", help="directory of .jsonl declare batches "
                                 "(move files in complete — "
                                 "write-then-rename)")
    fst.add_argument("dataset", nargs="?", default=None,
                     help="<ns>:<name> to add declared files to")
    fst.add_argument("--timeout", type=int, default=None,
                     help="drain deadline in seconds (default: "
                          "5s per pending batch file, min 120)")
    _add_sf_dir(fst)
    fnm = fsub.add_parser("name", help="print DID for a file id")
    fnm.add_argument("fid")
    _add_sf_dir(fnm)

    dgrp = sub.add_parser("dataset", help="dataset operations")
    dsub = dgrp.add_subparsers(dest="dcmd", required=True)

    dl = dsub.add_parser("list", help="list datasets")
    dl.add_argument("pattern", nargs="?", default=None,
                    help="<ns pattern>:<name pattern> (SQL LIKE %%)")
    _add_sf_dir(dl)

    df_ = dsub.add_parser("files", help="list dataset files")
    df_.add_argument("did")
    df_.add_argument("-m", "--with-metadata", action="store_true")
    df_.add_argument("-l", "--limit", type=int, default=None)
    _add_sf_dir(df_)

    dsh = dsub.add_parser("show", help="show dataset record")
    dsh.add_argument("did")
    _add_sf_dir(dsh)

    dc = dsub.add_parser("create", help="create dataset")
    dc.add_argument("did")
    dc.add_argument("description", nargs="?", default="")
    dc.add_argument("--frozen", action="store_true")
    dc.add_argument("--monotonic", action="store_true")
    dc.add_argument("--meta", type=_meta_arg, default=None)
    dc.add_argument("--requirements", type=_meta_arg, default=None,
                    help="file metadata requirements JSON (files "
                         "joining the dataset must satisfy them — "
                         "reference webapi create_dataset "
                         "metadata_requirements)")
    _add_sf_dir(dc)

    du = dsub.add_parser("update", help="update dataset")
    du.add_argument("did")
    du.add_argument("description", nargs="?", default=None)
    du.add_argument("--frozen", choices=["yes", "no"], default=None)
    du.add_argument("--monotonic", choices=["yes", "no"], default=None)
    du.add_argument("--meta", type=_meta_arg, default=None)
    du.add_argument("-r", "--replace", action="store_true")
    _add_sf_dir(du)

    da = dsub.add_parser("add-files", help="add files to a dataset")
    da.add_argument("did")
    da.add_argument("--ids", default=None,
                    help="comma-separated file ids")
    da.add_argument("--query", default=None, help="MQL file query")
    _add_sf_dir(da)

    drm = dsub.add_parser("remove-files",
                          help="remove files from a dataset")
    drm.add_argument("did")
    drm.add_argument("--ids", required=True)
    _add_sf_dir(drm)

    dsb = dsub.add_parser("add-subset",
                          help="add child dataset(s) to a parent")
    dsb.add_argument("parent")
    dsb.add_argument("children", nargs="+")
    _add_sf_dir(dsb)

    dde = dsub.add_parser("remove", help="remove a dataset")
    dde.add_argument("did")
    _add_sf_dir(dde)

    ngrp = sub.add_parser("namespace", help="namespace operations")
    nsub = ngrp.add_subparsers(dest="ncmd", required=True)
    nl = nsub.add_parser("list")
    nl.add_argument("pattern", nargs="?", default=None)
    _add_sf_dir(nl)
    nsh = nsub.add_parser("show")
    nsh.add_argument("name")
    _add_sf_dir(nsh)
    nc = nsub.add_parser("create")
    nc.add_argument("name")
    nc.add_argument("-o", "--owner", default="admin")
    _add_sf_dir(nc)

    cgrp = sub.add_parser("category",
                          help="parameter category operations")
    csub = cgrp.add_subparsers(dest="ccmd", required=True)
    cl = csub.add_parser("list")
    cl.add_argument("root", nargs="?", default=None,
                    help="root category path prefix")
    _add_sf_dir(cl)
    csh = csub.add_parser("show")
    csh.add_argument("path")
    _add_sf_dir(csh)
    cc = csub.add_parser("create")
    cc.add_argument("path")
    cc.add_argument("--defs", type=_meta_arg, default={},
                    help="JSON definitions ('{...}' or @file)")
    cc.add_argument("--restricted", action="store_true")
    _add_sf_dir(cc)

    qgrp = sub.add_parser("named-query", help="named query operations")
    qsub = qgrp.add_subparsers(dest="qcmd", required=True)
    ql = qsub.add_parser("list")
    _add_sf_dir(ql)
    qsh = qsub.add_parser("show")
    qsh.add_argument("did")
    _add_sf_dir(qsh)
    qc = qsub.add_parser("create")
    qc.add_argument("did")
    qc.add_argument("source", help="MQL source text")
    qc.add_argument("-d", "--description", default="")
    _add_sf_dir(qc)
    qse = qsub.add_parser("search")
    qse.add_argument("text", help="substring of the query source")
    _add_sf_dir(qse)

    cg = sub.add_parser(
        "corpus",
        help="training-corpus operators (beyond-reference: quality, "
             "dedup, contamination, packing, PII scrub, mixture, ANN)")
    cs = cg.add_subparsers(dest="ccmd", required=True)

    def _corpus_common(sp, embeddings=False):
        _add_sf_dir(sp)
        default_tbl = "embeddings" if embeddings else "documents"
        sp.add_argument("--input", default=None,
                        help=f"parquet path (default: "
                             f"<sf-dir>/{default_tbl}.parquet)")
        sp.add_argument("-o", "--output", default=None,
                        help="write result parquet here instead of "
                             "printing")
        sp.add_argument("-l", "--limit", type=int, default=20,
                        help="print at most N rows (ignored with -o)")

    ca = cs.add_parser("analyze", help="per-doc text analysis "
                       "(tokens, quality, language, fingerprint)")
    _corpus_common(ca)
    cq = cs.add_parser("quality", help="quality + repetition signals "
                       "(Gopher/C4-style gates)")
    _corpus_common(cq)
    cd = cs.add_parser("dedup", help="deduplicate")
    _corpus_common(cd)
    cd.add_argument("--method",
                    choices=["exact", "minhash", "ngram", "simhash",
                             "semantic", "semantic-text",
                             "containment", "substring"],
                    default="exact")
    cd.add_argument("--threshold", type=float, default=0.5)
    cd.add_argument("--ngram", type=int, default=8,
                    help="gram length for --method substring")
    cd.add_argument("--max-hamming", type=int, default=3,
                    help="Hamming radius for --method simhash "
                         "(band count derives from it)")
    cd.add_argument("--recall", action="store_true",
                    help="minhash/simhash/containment: report the "
                         "pair precision/recall gauge vs the exact "
                         "n-gram Jaccard pairs at --threshold "
                         "instead of the pairs themselves")
    cad = cs.add_parser("admit", help="admission-filter a new batch "
                        "against an existing corpus (incremental "
                        "exact dedup)")
    _corpus_common(cad)
    cad.add_argument("--corpus", required=True,
                     help="parquet path of the existing corpus "
                          "(--input is the new batch)")
    cc = cs.add_parser("contamination", help="train/test overlap")
    _corpus_common(cc)
    cc.add_argument("--test", required=True,
                    help="parquet path of the test/eval corpus "
                         "(--input is the training corpus)")
    cc.add_argument("--method",
                    choices=["exact", "jaccard", "containment", "lsh"],
                    default="exact")
    cc.add_argument("--threshold", type=float, default=0.5)
    cx = cs.add_parser("decontaminate",
                       help="drop training docs matched by any "
                            "test/eval doc")
    _corpus_common(cx)
    cx.add_argument("--test", required=True,
                    help="parquet path of the test/eval corpus "
                         "(--input is the training corpus)")
    # NO argparse defaults here: the registry/library defaults are
    # the single source (containment, each method's own threshold) —
    # an argparse default would reach the registry through
    # _registry_params and silently diverge from the HTTP surface
    # (review r7: CLI said containment@0.8, HTTP said exact@0.5)
    cx.add_argument("--method",
                    choices=["exact", "jaccard", "containment",
                             "lsh", "novelty"])
    cx.add_argument("--threshold", type=float)
    crp = cs.add_parser("report", help="per-source corpus health "
                        "report (volume, quality, dup rate)")
    _corpus_common(crp)
    cst = cs.add_parser("stats", help="one-row Zipf/Heaps corpus "
                        "profile (tokens, vocab, hapax, top share)")
    _corpus_common(cst)
    cdv = cs.add_parser("divergence", help="unigram-distribution "
                        "drift (KL/Jensen-Shannon) vs another corpus")
    _corpus_common(cdv)
    cdv.add_argument("--against", required=True,
                     help="parquet path of the comparison corpus "
                          "(--input is side A)")
    cdv.add_argument("--top-terms", type=int, default=0,
                     help="emit the top-K drift-driving terms "
                          "instead of the one-row summary")
    cnv = cs.add_parser("novelty",
                        help="per-doc n-gram novelty vs a reference "
                             "corpus: fraction of each doc's "
                             "distinct n-grams seen anywhere in the "
                             "reference (memorization/overlap "
                             "gauge)")
    _corpus_common(cnv)
    cnv.add_argument("--reference", required=True,
                     help="parquet path of the reference corpus "
                          "(--input is the measured corpus)")
    cnv.add_argument("-n", type=int, default=None,
                     help="n-gram order (default 13)")
    cdc2 = cs.add_parser("decode-coverage",
                         help="codec coverage gauge: real-decode vs "
                              "fallback rate per sniffed container "
                              "(--input an asset table with a "
                              "binary content column; default: the "
                              "synthesized documents fixture)")
    _corpus_common(cdc2)
    cdc2.add_argument("--ingest",
                      help="stream an asset parquet dir and emit "
                           "the per-batch per-container drift "
                           "gauge instead of the one-shot rates")
    cdc2.add_argument("--sink",
                      help="persist --ingest's gauge history to "
                           "this dir (parquet append, "
                           "checkpointed)")
    cdc2.add_argument("--timeout", type=int, default=None,
                      help="seconds to wait for the --ingest drain "
                           "(default 120)")
    csel = cs.add_parser("select", help="quality-ranked docs under a "
                         "token budget")
    _corpus_common(csel)
    csel.add_argument("--budget", type=int, required=True,
                      help="total token budget")
    ccs = cs.add_parser("cluster-sample",
                        help="semantic-diversity selection: nearest-"
                             "centroid clustering over the "
                             "embeddings (or --hashed doc vectors), "
                             "bounded rows kept per cluster")
    _corpus_common(ccs, embeddings=True)
    ccs.add_argument("--hashed", action="store_true",
                     help="vectorize the documents table with the "
                          "hashing trick instead of reading "
                          "embeddings")
    ccs.add_argument("--per-cluster", type=int, default=None,
                     dest="per_cluster",
                     help="rows kept per cluster (default 50)")
    ccs.add_argument("--clusters", type=int, default=None,
                     help="clusters to train when no --index is "
                          "given (default 16)")
    ccs.add_argument("--index",
                     help="serve assignment from a stored "
                          "build_ivf_centroids artifact (parquet "
                          "path) — skips training")
    ccs.add_argument("--by",
                     help="order survivors by this column "
                          "descending (default: deterministic "
                          "keyed-hash uniform sample)")
    ccs.add_argument("--stats", action="store_true",
                     help="occupancy/skew gauge of a stored "
                          "centroid artifact over the served "
                          "corpus (needs --index) — one row with "
                          "a retrain/rebalance recommendation")
    ccs.add_argument("--balance-threshold", type=float, default=None,
                     dest="balance_threshold",
                     help="max/mean occupancy past which --stats "
                          "recommends rebalance (default 4.0)")
    ccs.add_argument("--ingest",
                     help="stream embedding rows from this parquet "
                          "dir, assigning each to its nearest "
                          "stored centroid (needs --index and "
                          "--sink); prints the per-batch gauge")
    ccs.add_argument("--sink",
                     help="destination dir for --ingest's assigned "
                          "rows (parquet append, checkpointed)")
    ccs.add_argument("--timeout", type=int, default=None,
                     help="seconds to wait for the --ingest drain "
                          "(default 120)")
    clm = cs.add_parser("lm", help="corpus-LM log-probability per doc "
                        "(perplexity-style quality signal)")
    _corpus_common(clm)
    clm.add_argument("--method", choices=["unigram", "bigram"],
                     default="bigram")
    cml = cs.add_parser("moorelewis",
                        help="Moore-Lewis cross-entropy-difference "
                             "selection scores: rank the served raw "
                             "pool by how in-domain it looks")
    _corpus_common(cml)
    cml.add_argument("--target", required=True,
                     help="parquet path of the in-domain corpus")
    csr = cs.add_parser("search", help="BM25 keyword search "
                        "(top-k docs for a term query; "
                        "--build-index/--index for the "
                        "train-once/serve-many split)")
    _corpus_common(csr)
    csr.add_argument("--query", default=None,
                     help="space-separated query terms (required "
                          "unless --build-index/--extend)")
    # no argparse default: the registry default (k=10) is the single
    # source shared with the HTTP surface
    csr.add_argument("-k", type=int, help="results to return "
                     "(default 10)")
    csr.add_argument("--build-index", action="store_true",
                     dest="build_index",
                     help="emit the persistable inverted index "
                          "(postings + df + corpus stats) instead "
                          "of searching — write with -o")
    csr.add_argument("--index",
                     help="serve the query from a stored inverted "
                          "index (parquet path) instead of "
                          "scanning the corpus")
    csr.add_argument("--extend", action="store_true",
                     help="with --index: add this corpus to the "
                          "stored index and emit the merged "
                          "artifact (write with -o)")
    csr.add_argument("--shrink", action="store_true",
                     help="with --index: exact-DELETE this corpus "
                          "from the stored index (postings dropped, "
                          "df/stat contributions subtracted) and "
                          "emit the shrunk artifact (write with -o)")
    csr.add_argument("--upsert", action="store_true",
                     help="with --index: REPLACE-or-ADD this corpus "
                          "in the stored index (re-added ids' old "
                          "contributions subtracted exactly from "
                          "the stored postings) and emit the "
                          "merged artifact (write with -o)")
    csr.add_argument("--verify-index", action="store_true",
                     dest="verify_index",
                     help="with --index: one-row integrity gauge — "
                          "df/stat parts recomputed from the stored "
                          "postings vs the stored rows")
    csr.add_argument("--queries",
                     help="with --index: batched serving — "
                          "'<id>:<terms>[;<id>:<terms>...]' runs "
                          "the whole batch in ONE plan (postings "
                          "scanned once), row-for-row equal to the "
                          "per-query serves")
    csr.add_argument("--compact-index", action="store_true",
                     dest="compact_index",
                     help="with --index: fold a multi-part appended "
                          "artifact back to one df/stat row per "
                          "term (serve results unchanged; write "
                          "with -o)")
    csr.add_argument("--max-parts", type=int, default=None,
                     dest="max_parts",
                     help="with --verify-index: appended-fragment "
                          "count past which the gauge recommends "
                          "compaction (default 32; measured "
                          "crossover in docs/SCALING.md)")
    csr.add_argument("--ingest",
                     help="streaming index build: index a documents "
                          "parquet STREAM from this path and "
                          "parquet-append the fragments to --index "
                          "(append-is-extend — serve sums the "
                          "parts); emits the per-batch gauge. "
                          "CLI only")
    csr.add_argument("--timeout", type=int,
                     help="with --ingest: drain timeout in seconds "
                          "(default 300)")
    chy = cs.add_parser("hybrid", help="hybrid retrieval: BM25 + "
                        "embedding-cosine ranks fused by RRF")
    _corpus_common(chy)
    chy.add_argument("--query", required=True,
                     help="space-separated query terms")
    chy.add_argument("--vec", type=int, required=True,
                     help="query vec_id from the embeddings table")
    # no argparse defaults: registry (n=50, k=10) is the single source
    chy.add_argument("-n", type=int,
                     help="candidate-list depth per ranker "
                          "(default 50)")
    chy.add_argument("-k", type=int, help="fused results to return "
                     "(default 10)")
    chy.add_argument("--kwindex", help="served mode: stored "
                     "inverted-index parquet path (needs --postings "
                     "and --vec-index too)")
    chy.add_argument("--postings", help="served mode: stored IVF-PQ "
                     "postings parquet path")
    chy.add_argument("--vec-index", dest="vecindex",
                     help="served mode: stored IVF-PQ index "
                          "parquet path")
    chy.add_argument("--n-probe", type=int, dest="n_probe",
                     help="served mode: IVF lists probed "
                          "(default 4)")
    chs = cs.add_parser("hybrid-stream",
                        help="streaming hybrid retrieval: drain a "
                             "documents stream and an embeddings "
                             "stream into bounded running "
                             "leaderboards, RRF-fuse the finals")
    _corpus_common(chs)
    chs.add_argument("--query", required=True,
                     help="space-separated query terms")
    chs.add_argument("--vec", type=int, required=True,
                     help="query vec_id from the embeddings table")
    chs.add_argument("--src", required=True,
                     help="documents parquet path to STREAM")
    chs.add_argument("--vecsrc", required=True,
                     help="embeddings parquet path to STREAM")
    # no argparse defaults: registry (n=50, k=10) is the single source
    chs.add_argument("-n", type=int,
                     help="leaderboard depth per ranker (default 50)")
    chs.add_argument("-k", type=int, help="fused results to return "
                     "(default 10)")
    chs.add_argument("--sink",
                     help="deploy posture: parquet-append both "
                          "leaderboard emission histories under "
                          "<sink>/kw and <sink>/vec (checkpointed) "
                          "instead of driver-resident memory sinks")
    cdiff = cs.add_parser("diff", help="snapshot diff vs a newer "
                          "corpus version (added/removed/changed/"
                          "unchanged by content fingerprint)")
    _corpus_common(cdiff)
    cdiff.add_argument("--new", required=True, dest="new",
                       help="parquet path of the NEW snapshot "
                            "(--input is the old version)")
    cds = cs.add_parser("dsir", help="DSIR hashed-ngram importance "
                        "weights (Gumbel-top-m resample with --m)")
    _corpus_common(cds)
    cds.add_argument("--target", required=True,
                     help="parquet path of the in-domain corpus")
    # no argparse defaults: registry (buckets=1024, seed=42) is the
    # single source shared with the HTTP surface
    cds.add_argument("--buckets", type=int,
                     help="hashed feature buckets (default 1024)")
    cds.add_argument("--m", type=int,
                     help="resample size (omit for weights only)")
    cds.add_argument("--seed", type=int,
                     help="Gumbel noise seed (default 42)")
    ctr = cs.add_parser("train", help="train a hashed-feature "
                        "logistic classifier in-engine (full-batch "
                        "GD; --score emits per-doc probabilities)")
    _corpus_common(ctr)
    ctr.add_argument("--label", required=True,
                     help="label column (e.g. source)")
    ctr.add_argument("--pos", required=True,
                     help="positive value of the label column")
    # no argparse defaults: registry (steps=10, lr=10, buckets=256)
    # is the single source shared with the HTTP surface
    ctr.add_argument("--steps", type=int,
                     help="GD steps (default 10)")
    ctr.add_argument("--lr", type=float,
                     help="learning rate (default 10)")
    ctr.add_argument("--buckets", type=int,
                     help="hashed feature buckets (default 256)")
    ctr.add_argument("--score", action="store_true",
                     help="emit per-doc probabilities instead of "
                          "the weight table")
    cbp = cs.add_parser("bpe", help="learn a BPE merge vocabulary "
                        "(--encode tokenizes the corpus with it)")
    _corpus_common(cbp)
    # no argparse defaults: registry (merges=100, vocab_cap=50000)
    # is the single source shared with the HTTP surface
    cbp.add_argument("--merges", type=int,
                     help="number of merges to learn (default 100)")
    cbp.add_argument("--vocab-cap", type=int, dest="vocab_cap",
                     help="train on the top-N word forms "
                          "(default 50000)")
    cbp.add_argument("--encode", action="store_true",
                     help="emit the BPE-tokenized corpus instead of "
                          "the merge table")
    cug = cs.add_parser("unigram",
                        help="learn a unigram-LM tokenizer "
                             "(SentencePiece-style; --encode "
                             "Viterbi-tokenizes the corpus)")
    _corpus_common(cug)
    # no argparse defaults: registry (vocab_size=8000,
    # vocab_cap=50000) is the single source shared with HTTP
    cug.add_argument("--vocab-size", type=int, dest="vocab_size",
                     help="target piece-vocabulary size "
                          "(default 8000)")
    cug.add_argument("--vocab-cap", type=int, dest="vocab_cap",
                     help="train on the top-N word forms "
                          "(default 50000)")
    cug.add_argument("--encode", action="store_true",
                     help="emit the piece-tokenized corpus instead "
                          "of the (piece, logp) vocabulary")
    cwp = cs.add_parser("wordpiece",
                        help="learn a WordPiece vocabulary "
                             "(BERT-style likelihood-gain merges; "
                             "--encode greedy-tokenizes the corpus)")
    _corpus_common(cwp)
    # no argparse defaults: registry (vocab_size=8000,
    # vocab_cap=50000) is the single source shared with HTTP
    cwp.add_argument("--vocab-size", type=int, dest="vocab_size",
                     help="target piece-vocabulary size "
                          "(default 8000)")
    cwp.add_argument("--vocab-cap", type=int, dest="vocab_cap",
                     help="train on the top-N word forms "
                          "(default 50000)")
    cwp.add_argument("--encode", action="store_true",
                     help="emit the piece-tokenized corpus instead "
                          "of the (step, piece, score) vocabulary")
    cts = cs.add_parser("tokstats",
                        help="train BPE/unigram/WordPiece at "
                             "comparable size and report fertility "
                             "+ compression side by side")
    _corpus_common(cts)
    cts.add_argument("--vocab-size", type=int, dest="vocab_size",
                     help="comparable size per tokenizer "
                          "(default 8000)")
    cts.add_argument("--vocab-cap", type=int, dest="vocab_cap",
                     help="train on the top-N word forms "
                          "(default 50000)")
    cdc = cs.add_parser("domaincap",
                        help="keep the top-n docs of each domain by "
                             "quality (diversity control)")
    _corpus_common(cdc)
    cdc.add_argument("-n", type=int, default=100)
    cdc.add_argument("--domain", default="source",
                     help="domain column (default: source)")
    cp_ = cs.add_parser("pack", help="pack documents into fixed-token "
                        "training sequences")
    _corpus_common(cp_)
    cp_.add_argument("--max-tokens", type=int, default=512)
    cmk = cs.add_parser("markup", help="strip HTML/markup "
                        "(script/style payload dropped, block tags "
                        "to newlines, entities unescaped)")
    _corpus_common(cmk)
    cn = cs.add_parser("normalize", help="Unicode normalization "
                       "(NFC default) + control-char cleanup")
    _corpus_common(cn)
    # no argparse default: the registry default (NFC) is the single
    # source shared with the HTTP surface
    cn.add_argument("--form", choices=["NFC", "NFKC", "NFD", "NFKD"])
    cch = cs.add_parser("chunk", help="overlapping token-window "
                        "chunks (embedding/RAG units)")
    _corpus_common(cch)
    # no argparse defaults: the library signature (size 128, stride
    # 3/4·size) is the single source shared with the HTTP surface
    cch.add_argument("--size", type=int,
                     help="tokens per chunk (default 128)")
    cch.add_argument("--stride", type=int,
                     help="window step (default 3/4 of --size)")
    cb = cs.add_parser("boilerplate", help="drop lines shared by "
                       ">= min-df docs (CCNet/RefinedWeb line dedup)")
    _corpus_common(cb)
    # no argparse defaults: the library signature (min_df 2, delim
    # newline) is the single source shared with the HTTP surface
    cb.add_argument("--min-df", type=int, dest="min_df",
                    help="doc-frequency threshold (default 2)")
    cb.add_argument("--delim",
                    help="literal line delimiter (default newline)")
    cr = cs.add_parser("redact", help="PII scrub (typed placeholders)")
    _corpus_common(cr)
    cpub = cs.add_parser("publish", help="publish the corpus: "
                         "hash-sharded layout + manifest.json "
                         "(or WebDataset tar shards)")
    _corpus_common(cpub)
    cpub.add_argument("--dest", required=True)
    cpub.add_argument("--format", default="parquet",
                      choices=["parquet", "json", "webdataset"])
    cpub.add_argument("--shards", type=int, default=8)
    cvm = cs.add_parser("verify-manifest", help="reader-side check "
                        "of a published corpus against its manifest")
    _corpus_common(cvm)
    cvm.add_argument("--dest", required=True)
    ccu = cs.add_parser("curate", help="end-to-end curation "
                        "(gate, dedup, near-dup; --v2 adds PII "
                        "scrub + substring scrub, exact near-dup; "
                        "--v3 additionally normalizes Unicode first "
                        "and drops boilerplate lines before near-dup "
                        "— the CCNet/RefinedWeb order)")
    _corpus_common(ccu)
    ccu.add_argument("--v2", action="store_true")
    ccu.add_argument("--v3", action="store_true")
    ccu.add_argument("--ledger", action="store_true",
                     help="emit per-document fates instead of "
                          "survivors (pipeline lineage; pairs with "
                          "--v3 for the seven-stage fates)")
    ccu.add_argument("--min-quality", type=float, default=0.3)
    cgg = cs.add_parser("gate", help="Gopher heuristic quality "
                        "gate (per-rule flags + conjunction)")
    _corpus_common(cgg)
    cc4 = cs.add_parser("c4", help="C4 line-level cleaning "
                        "(terminal punctuation, min words, "
                        "brace/boilerplate rules)")
    _corpus_common(cc4)
    csc = cs.add_parser("scrub", help="cut duplicated substrings "
                        "(ExactSubstr span scrub)")
    _corpus_common(csc)
    csc.add_argument("--ngram", type=int, default=8)
    csub = cs.add_parser("substring", help="duplicated-substring "
                         "spans (ExactSubstr index; scrub removes "
                         "them)")
    _corpus_common(csub)
    csub.add_argument("--ngram", type=int, default=8)
    csd = cs.add_parser("semdedup", help="semantic-dedup survivors "
                        "(embedding-cosine near-dup, SemDeDup)")
    _corpus_common(csd)
    csd.add_argument("--threshold", type=float, default=0.9)
    csp = cs.add_parser("split", help="deterministic train/val/test "
                        "hash split")
    _corpus_common(csp)
    csp.add_argument("--splits", default=None,
                     help="comma list, e.g. train=0.8,val=0.1,"
                          "test=0.1 (default 80/10/10)")
    csp.add_argument("--salt", default="",
                     help="derive an independent split")
    cm = cs.add_parser("mixture", help="re-balance to target domain "
                       "proportions (downsample-only)")
    _corpus_common(cm)
    cm.add_argument("--target", required=True,
                    help="comma list, e.g. en=0.6,de=0.2,fr=0.2")
    cm.add_argument("--stratum-col", default="lang")
    cm.add_argument("--by", choices=["docs", "tokens"],
                    default="docs",
                    help="weight strata by document count or "
                         "token mass")
    cn = cs.add_parser("ann", help="embedding nearest neighbours")
    _corpus_common(cn, embeddings=True)
    cn.add_argument("--method",
                    choices=["gemm", "lsh", "ivf", "ivfpq"],
                    default="gemm")
    cn.add_argument("-k", type=int, default=5)
    cn.add_argument("--hashed", action="store_true",
                    help="search hashed document vectors (no "
                         "embeddings table needed)")
    cn.add_argument("--build-index", action="store_true",
                    dest="build_index",
                    help="ivf/ivfpq: emit the persistable index "
                         "table instead of searching (write with -o)")
    cn.add_argument("--recall", action="store_true",
                    help="report the recall gauge of this search vs "
                         "the exact GEMM ground truth at the same k "
                         "(one row: micro recall + per-query "
                         "mean/min) instead of the neighbor rows")
    cn.add_argument("--opq", type=int, default=None,
                    help="with --build-index (ivfpq): train an OPQ "
                         "rotation with this many alternating "
                         "PQ/Procrustes iterations (Ge et al. 2013; "
                         "stored in the artifact, applied "
                         "transparently by every served verb; "
                         "default 0 = plain PQ)")
    cn.add_argument("--index",
                    help="ivf/ivfpq: serve from a stored index "
                         "table (parquet path) — skips training")
    cn.add_argument("--encode", action="store_true",
                    help="ivfpq + --index: emit postings rows "
                         "(lst, id, codes, vec) for the input "
                         "vectors — the incremental ADD (first "
                         "batch: -o <postings>; later batches: "
                         "-o <postings> --append)")
    cn.add_argument("--append", action="store_true",
                    help="with -o: append to the existing parquet "
                         "table instead of overwriting it (the "
                         "--encode add path)")
    cn.add_argument("--postings",
                    help="ivfpq + --index: serve queries from a "
                         "stored postings table (parquet path) "
                         "instead of re-encoding members")
    cn.add_argument("--distortion", action="store_true",
                    help="ivfpq + --index: report the staleness "
                         "gauge (mean PQ distortion of the input vs "
                         "the build-time baseline)")
    cn.add_argument("--ingest",
                    help="ivfpq + --index: STREAM-encode embeddings "
                         "from this parquet dir/file, appending "
                         "postings to --postings (the destination "
                         "dir, checkpointed — restarts resume); "
                         "prints the per-micro-batch distortion "
                         "gauge. CLI only (writes a local path)")
    cn.add_argument("--timeout", type=int, default=None,
                    help="with --ingest: drain timeout in seconds "
                         "(default 300)")
    cn.add_argument("--retire",
                    help="ivfpq: emit tombstone rows for these "
                         "comma-separated member ids from the "
                         "--postings table (append with -o "
                         "--append); search excludes them "
                         "immediately, --compact removes them "
                         "physically")
    cn.add_argument("--compact", action="store_true",
                    help="ivfpq: rewrite --postings lists whose "
                         "tombstone ratio >= --min-ratio without "
                         "dead rows (write with -o)")
    cn.add_argument("--upsert", action="store_true",
                    help="ivfpq + --index + --postings: REPLACE-or-"
                         "ADD the input vectors — drops every "
                         "stored row of their ids (stale tombstones "
                         "included) and appends the freshly encoded "
                         "batch (write the rewritten table with "
                         "-o)")
    cn.add_argument("--min-ratio", type=float, default=None,
                    dest="min_ratio",
                    help="with --compact: only rewrite lists at or "
                         "above this tombstone ratio (default 0 = "
                         "every dirty list)")
    cn.add_argument("--health", action="store_true",
                    help="ivfpq: one-row rebuild-decision gauge "
                         "over --index + --postings — distortion "
                         "vs the build baseline, tombstone load, "
                         "list balance, and a recommendation "
                         "(ok/compact/rebalance/rebuild)")
    cn.add_argument("--codes-only", action="store_true",
                    dest="codes_only",
                    help="with --encode: store codes-only postings "
                         "(no member vectors — the storage-optimal "
                         "classic IVFPQ posture; serve them with "
                         "--rerank 0)")
    cn.add_argument("--rerank", type=int, choices=[0, 1], default=1,
                    help="ivfpq search: 1 (default) reranks the ADC "
                         "shortlist with exact cosine (needs stored "
                         "member vectors); 0 serves pure-ADC scores "
                         "— required for codes-only postings tables "
                         "(--encode without vectors)")

    eg = sub.add_parser(
        "events",
        help="event-stream analytics (beyond-reference: windows, "
             "sessions, funnels, retention)")
    es = eg.add_subparsers(dest="ecmd", required=True)

    def _events_common(sp):
        _add_sf_dir(sp)
        sp.add_argument("-o", "--output", default=None)
        sp.add_argument("-l", "--limit", type=int, default=20)

    ew = es.add_parser("windowed", help="tumbling-window counts")
    _events_common(ew)
    ew.add_argument("--window", default="1 hour")
    ese = es.add_parser("sessionize", help="gap-based sessions")
    _events_common(ese)
    ese.add_argument("--gap-minutes", type=int, default=30)
    ep = es.add_parser("paths", help="top-k most common length-n "
                       "event paths per user")
    _events_common(ep)
    ep.add_argument("--length", type=int, default=3)
    ep.add_argument("--top", type=int, default=20)
    ea = es.add_parser("anomalies", help="per-window volume "
                       "z-scores vs a trailing baseline")
    _events_common(ea)
    ea.add_argument("--window", default="1 hour")
    ea.add_argument("--trailing", type=int, default=24)
    ef = es.add_parser("funnel", help="ordered-funnel completion")
    _events_common(ef)
    ef.add_argument("--steps", default="view,click,purchase",
                    help="comma list of event types in order")
    ef.add_argument("--horizon", type=int, default=3600,
                    help="max seconds between consecutive steps")
    ef.add_argument("--counts", action="store_true",
                    help="emit the per-step conversion report")
    er = es.add_parser("retention", help="weekly cohort retention")
    _events_common(er)
    eat = es.add_parser("attribution",
                        help="per-touch-type conversion credit "
                             "(last/first/linear-touch)")
    _events_common(eat)
    eat.add_argument("--conversion", default="purchase",
                     help="the conversion event type "
                          "(default purchase)")
    eat.add_argument("--model",
                     choices=["last", "first", "linear", "position"],
                     default="last")
    eat.add_argument("--lookback", type=int, default=3600,
                     help="attribution window in seconds before "
                          "each conversion (default 3600)")

    vv = sub.add_parser("version", help="print engine versions")

    sv = sub.add_parser("serve", help="start the HTTP data server "
                                      "(json-seq streaming)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--data-root", default=None,
                    help="allow /data/corpus?test= paths under this "
                         "subtree (default: disabled)")
    _add_sf_dir(sv)

    ad = sub.add_parser(
        "admin", help="warehouse admin — the Spark analogue of the "
        "reference's schema init/migrate tooling "
        "(metacat/ui/metacat_admin.py): (re)build the bucketed "
        "warehouse tables and inspect them")
    asub = ad.add_subparsers(dest="acmd", required=True)
    ai = asub.add_parser("init", help="(re)build the bucketed "
                         "warehouse tables for an sf dir")
    ai.add_argument("--variant", action="store_true",
                    help="also build the VARIANT-metadata files table")
    _add_sf_dir(ai)
    at = asub.add_parser("tables",
                         help="list warehouse tables with row counts")
    _add_sf_dir(at)
    ac = asub.add_parser("compact", help="fold the durable commit log "
                         "into fresh snapshots (bounds restore cost; "
                         "the OPTIMIZE analogue)")
    _add_sf_dir(ac)
    al = asub.add_parser("log", help="list the durable commit log: "
                         "one line per commit with per-table segment/"
                         "snapshot state (manifest reads only)")
    _add_sf_dir(al)
    return p


def main(argv=None):
    args = build_parser().parse_args(argv)

    if args.cmd == "version":
        # parity: `metacat version` (metacat_ui.py) prints server +
        # client versions; here the "server" is the Spark runtime
        import pyspark
        print(f"metacat_spark 0.3 (pyspark {pyspark.__version__})")
        return 0

    if args.cmd == "serve":
        from .server import main as serve_main
        sv_args = ["--sf-dir", args.sf_dir, "--host", args.host,
                   "--port", str(args.port)]
        if args.data_root:
            sv_args += ["--data-root", args.data_root]
        if args.durable_root:
            sv_args += ["--durable-root", args.durable_root]
        return serve_main(sv_args)

    if args.cmd == "corpus":
        # corpus ops read the document/embedding tables directly — no
        # MQL warehouse build needed
        return _cmd_corpus(args)

    if args.cmd == "events":
        return _cmd_events(args)

    if args.cmd == "admin":
        from .catalog import materialize_tables
        from .session import get_spark
        spark = get_spark()
        if args.acmd == "compact":
            if not args.durable_root:
                raise SystemExit("admin compact needs --durable-root "
                                 "(or SPARK_GRAFT_DURABLE_ROOT)")
            engine, dml = _session(args.sf_dir, args.durable_root)
            dml._store.compact(engine.cat)
            print(f"# compacted commit log at {args.durable_root} "
                  f"(commit {dml._store.manifest['commit']})",
                  file=sys.stderr)
            return 0
        if args.acmd == "log":
            if not args.durable_root:
                raise SystemExit("admin log needs --durable-root "
                                 "(or SPARK_GRAFT_DURABLE_ROOT)")
            from .durable import DurableStore
            for row in DurableStore(spark,
                                    args.durable_root).history():
                print(json.dumps(row))
            return 0
        # BOTH subcommands ensure the warehouse first: Spark's default
        # in-memory catalog forgets table registrations between
        # sessions (the parquet dirs persist), so a fresh-process
        # `admin tables` must re-register (and rebuild if the data is
        # gone) before listing — otherwise it would silently print
        # nothing
        materialize_tables(spark, args.sf_dir,
                           variant=getattr(args, "variant", False))
        if args.acmd == "init":
            print("# warehouse ready", file=sys.stderr)
        suffix = (args.sf_dir.rstrip("/").split("/")[-1]
                  .replace(".", "_"))
        for t in sorted(t.name for t in spark.catalog.listTables()
                        if t.name.startswith("mcw_")
                        and t.name.endswith(suffix)):
            n = spark.table(t).count()
            print(f"{t}\t{n}")
        return 0

    engine, dml = _session(args.sf_dir,
                           getattr(args, "durable_root", None),
                           getattr(args, "durable_at", None))
    cat = engine.cat

    if args.cmd == "query":
        return _cmd_query(engine, dml, args)

    if args.cmd == "file":
        files = cat.files
        if args.fcmd == "declare":
            ns, name = _did(args.did)
            fid = args.fid or f"cli-{ns}-{name}"
            n = dml.declare_files(
                [dict(id=fid, namespace=ns, name=name, size=args.size,
                      creator=args.creator, metadata=args.meta,
                      checksums=_checksum_arg(args.checksums),
                      parents=_id_list(args.parents))],
                dataset=_did(args.dataset) if args.dataset else None)
            print(f"declared {n} file(s); id={fid}")
            return 0
        if args.fcmd == "declare-sample":
            print(json.dumps([{
                "id": "fid1", "namespace": "ns", "name": "file1.dat",
                "size": 1024, "creator": "user",
                "checksums": {"adler32": "abcd1234"},
                "parents": ["fid0"],
                "metadata": {"core.run": 1, "core.data_type": "mc"},
            }], indent=2))
            return 0
        if args.fcmd == "declare-many":
            with open(args.json_file) as f:
                rows = json.load(f)
            n = dml.declare_files(
                rows, dataset=_did(args.dataset) if args.dataset
                else None)
            print(f"declared {n} file(s)")
            return 0
        if args.fcmd == "add":
            ns, dname = _did(args.dataset)
            if args.by_id:
                fids = list(args.specs)
            else:
                # ONE pruned isin scan for every spec, not a Spark
                # job per file (review r6; same contract as
                # client.get_files)
                wanted = [tuple(_did(spec)) for spec in args.specs]
                dids = [f"{ns2}:{n2}" for ns2, n2 in wanted]
                found = {r["did"]: r["id"] for r in files.select(
                    F.concat_ws(":", "namespace", "name").alias("did"),
                    "id").where(F.concat_ws(
                        ":", "namespace", "name").isin(dids)).collect()}
                missing = [d for d in dids if d not in found]
                if missing:
                    raise SystemExit(f"file {missing[0]!r} not found")
                fids = [found[d] for d in dids]
            n = dml.add_files_to_dataset(fids, ns, dname)
            print(f"added {n} file(s) to {ns}:{dname}")
            return 0
        if args.fcmd in ("show", "retire", "update-meta", "update",
                         "datasets"):
            if args.by_id:
                hit = F.col("id") == args.spec
            else:
                ns, name = _did(args.spec)
                hit = ((F.col("namespace") == ns)
                       & (F.col("name") == name))
            row = files.where(hit).select("id").first()
            if row is None:
                raise SystemExit(f"file {args.spec!r} not found")
            fid = row["id"]
            if args.fcmd == "show":
                cols = ["id", "namespace", "name", "size", "creator",
                        "created_timestamp", "retired", "checksums"]
                if args.with_metadata:
                    cols.append("metadata")
                _print_rows(files.where(hit).select(*cols), args.json)
                if args.with_provenance:
                    pc = cat.parent_child
                    ps = [r["parent_id"] for r in
                          pc.where(F.col("child_id") == fid).collect()]
                    cs = [r["child_id"] for r in
                          pc.where(F.col("parent_id") == fid).collect()]
                    print(f"parents:  {','.join(sorted(ps))}")
                    print(f"children: {','.join(sorted(cs))}")
            elif args.fcmd == "retire":
                dml.retire_file(fid, by="cli", unretire=args.unretire)
                print(("unretired" if args.unretire else "retired")
                      + f" {fid}")
            elif args.fcmd == "update-meta":
                dml.update_file_metadata(
                    fid, args.meta,
                    mode="replace" if args.replace else "update")
                print(f"updated {fid}")
            elif args.fcmd == "update":
                dml.update_file(
                    fid, size=args.size,
                    checksums=_checksum_arg(args.checksums),
                    metadata=args.meta,
                    parents=_id_list(args.parents),
                    children=_id_list(args.children),
                    replace=args.replace, by="cli")
                print(f"updated {fid}")
            else:  # datasets
                _print_rows(
                    cat.files_datasets.where(F.col("file_id") == fid)
                    .select("dataset_namespace", "dataset_name")
                    .orderBy("dataset_namespace", "dataset_name"),
                    args.json)
            return 0
        if args.fcmd == "move":
            dml.move_files(args.fids, args.namespace, by="cli")
            print(f"moved {len(args.fids)} file(s) to {args.namespace}")
            return 0
        if args.fcmd == "id":
            ns, name = _did(args.did)
            row = files.where((F.col("namespace") == ns)
                              & (F.col("name") == name)) \
                       .select("id").first()
            if row is None:
                raise SystemExit(f"file {args.did!r} not found")
            print(row["id"])
            return 0
        if args.fcmd == "declare-stream":
            from .streaming.ingest import declare_stream
            stats = declare_stream(
                cat.spark, dml, args.src,
                dataset=_did(args.dataset) if args.dataset else None,
                timeout_s=args.timeout)
            print(json.dumps(stats))
            return 0
        if args.fcmd == "name":
            row = files.where(F.col("id") == args.fid) \
                       .select("namespace", "name").first()
            if row is None:
                raise SystemExit(f"file id {args.fid!r} not found")
            print(f"{row['namespace']}:{row['name']}")
            return 0

    if args.cmd == "dataset":
        ds = cat.datasets
        if args.dcmd == "list":
            if args.pattern:
                ns_pat, name_pat = _did(args.pattern)
                ds = ds.where(F.col("namespace").like(ns_pat)
                              & F.col("name").like(name_pat))
            _print_rows(ds.select("namespace", "name", "frozen",
                                  "monotonic", "description")
                        .orderBy("namespace", "name"), args.json)
            return 0
        if args.dcmd == "files":
            df = engine.query(f"files from {args.did}",
                              with_meta=args.with_metadata)
            _print_rows(df, args.json, args.limit)
            return 0
        if args.dcmd == "show":
            ns, name = _did(args.did)
            hit = ds.where((F.col("namespace") == ns)
                           & (F.col("name") == name))
            if hit.first() is None:
                raise SystemExit(f"dataset {args.did!r} not found")
            _print_rows(hit.select("namespace", "name", "frozen",
                                   "monotonic", "creator",
                                   "description", "metadata"),
                        args.json)
            return 0
        if args.dcmd == "create":
            ns, name = _did(args.did)
            dml.create_dataset(ns, name, description=args.description,
                               frozen=args.frozen,
                               monotonic=args.monotonic,
                               metadata=args.meta, creator="cli",
                               file_meta_requirements=args.requirements)
            print(f"created {ns}:{name}")
            return 0
        if args.dcmd == "update":
            ns, name = _did(args.did)
            tf = {None: None, "yes": True, "no": False}
            dml.update_dataset(
                ns, name, metadata=args.meta,
                mode="replace" if args.replace else "update",
                frozen=tf[args.frozen], monotonic=tf[args.monotonic],
                description=args.description)
            print(f"updated {ns}:{name}")
            return 0
        if args.dcmd == "add-files":
            ns, name = _did(args.did)
            if bool(args.ids) == bool(args.query):
                raise SystemExit("exactly one of --ids/--query required")
            if args.ids:
                n = dml.add_files_to_dataset(args.ids.split(","),
                                             ns, name)
            else:
                n = dml.add_to(engine.query(args.query), ns, name)
            print(f"added {n} file(s) to {ns}:{name}")
            return 0
        if args.dcmd == "remove-files":
            ns, name = _did(args.did)
            dml.remove_files_from_dataset(args.ids.split(","), ns, name)
            print(f"removed from {ns}:{name}")
            return 0
        if args.dcmd == "add-subset":
            pns, pname = _did(args.parent)
            for child in args.children:
                cns, cname = _did(child)
                dml.add_subset(pns, pname, cns, cname)
            print(f"added {len(args.children)} subset(s) to "
                  f"{pns}:{pname}")
            return 0
        if args.dcmd == "remove":
            ns, name = _did(args.did)
            dml.remove_dataset(ns, name)
            print(f"removed {ns}:{name}")
            return 0

    if args.cmd == "namespace":
        nsdf = cat.namespaces
        if args.ncmd == "list":
            if args.pattern:
                nsdf = nsdf.where(F.col("name").like(args.pattern))
            _print_rows(nsdf.orderBy("name"), args.json)
            return 0
        if args.ncmd == "show":
            hit = nsdf.where(F.col("name") == args.name)
            if hit.first() is None:
                raise SystemExit(f"namespace {args.name!r} not found")
            _print_rows(hit, args.json)
            return 0
        if args.ncmd == "create":
            dml.create_namespace(args.name, owner=args.owner)
            print(f"created namespace {args.name}")
            return 0

    if args.cmd == "category":
        pc = cat.parameter_categories
        if args.ccmd == "list":
            if args.root:
                pc = pc.where(
                    (F.col("path") == args.root)
                    | F.col("path").startswith(args.root + "."))
            _print_rows(pc.select("path", "restricted", "description")
                        .orderBy("path"), args.json)
            return 0
        if args.ccmd == "show":
            hit = pc.where(F.col("path") == args.path)
            row = hit.first()
            if row is None:
                raise SystemExit(f"category {args.path!r} not found")
            d = row.asDict()
            d["definitions"] = json.loads(d["definitions"] or "{}")
            print(json.dumps(d, indent=2, default=str))
            return 0
        if args.ccmd == "create":
            dml.create_parameter_category(
                args.path, definitions=args.defs,
                restricted=args.restricted, creator="cli")
            print(f"created category {args.path}")
            return 0

    if args.cmd == "named-query":
        qt = cat.queries_tbl
        if args.qcmd == "list":
            _print_rows(qt.select("namespace", "name", "creator",
                                  "description")
                        .orderBy("namespace", "name"), args.json)
            return 0
        if args.qcmd == "show":
            ns, name = _did(args.did)
            hit = qt.where((F.col("namespace") == ns)
                           & (F.col("name") == name))
            row = hit.select("source").first()
            if row is None:
                raise SystemExit(f"named query {args.did!r} not found")
            print(row["source"])
            return 0
        if args.qcmd == "create":
            ns, name = _did(args.did)
            dml.create_named_query(ns, name, args.source,
                                   creator="cli",
                                   description=args.description)
            print(f"created named query {ns}:{name}")
            return 0
        if args.qcmd == "search":
            _print_rows(
                qt.where(F.col("source").contains(args.text))
                .select("namespace", "name", "source")
                .orderBy("namespace", "name"), args.json)
            return 0

    raise SystemExit(f"unhandled command {args.cmd}")


def _cmd_query(engine, dml, args):
    mql = args.mql
    if mql is None:
        if not args.query_file:
            raise SystemExit("query text or -q <file> required")
        with open(args.query_file) as f:
            mql = f.read()
    if args.explain:
        print(engine.explain(mql, default_namespace=args.namespace))
        return 0
    if args.profile:
        prof = engine.profile(
            mql, [k.strip() for k in args.profile.split(",")
                  if k.strip()],
            include_retired=args.include_retired,
            default_namespace=args.namespace)
        _print_rows(prof, args.json)
        return 0

    keys = args.meta_keys
    df = engine.query(mql, with_meta=keys is not None,
                      with_provenance=args.with_provenance,
                      summary=args.summary,
                      include_retired=args.include_retired,
                      default_namespace=args.namespace,
                      after_id=args.after_id, page_size=args.page)
    if args.ids and args.summary is None:
        df = df.select("id")
    elif keys and keys != "all" and args.summary is None:
        # project the requested keys out of the JSON metadata
        others = [c for c in df.columns if c != "metadata"]
        df = df.select(*others,
                       *[F.get_json_object("metadata", f"$['{k}']")
                         .alias(k) for k in keys.split(",")])
    if args.output:
        # sink: distributed write straight from the plan — the bulk
        # analogue of the json-seq stream (no driver materialization)
        w = df.write.mode("overwrite")
        if args.format == "csv":
            w = w.option("header", "true")
        getattr(w, args.format)(args.output)
        print(f"exported to {args.output} ({args.format})")
        return 0
    if args.save_as:
        ns, name = _did(args.save_as)
        n = dml.save_as(df, ns, name)
        print(f"saved {n} file(s) as dataset {ns}:{name}")
        return 0
    if args.add_to:
        ns, name = _did(args.add_to)
        n = dml.add_to(df, ns, name)
        print(f"added {n} file(s) to dataset {ns}:{name}")
        return 0
    _print_rows(df, args.json, args.limit)
    return 0


if __name__ == "__main__":
    sys.exit(main())
