#!/usr/bin/env python3
"""spark-submit entrypoint for the bleve_spark engine (north rule: the
full build+query job runs via ``spark-submit --py-files`` on
multi-executor clusters).

Package the library once:

    python tools/spark_job.py package            # -> dist/bleve_spark.zip

Then submit against any cluster (YARN/k8s/standalone/local):

    spark-submit --py-files dist/bleve_spark.zip tools/spark_job.py \
        build --corpus s3://bucket/corpus/ --index s3://bucket/index/ \
        --id-cols repo,path,commit

    spark-submit --py-files dist/bleve_spark.zip tools/spark_job.py \
        query --index s3://bucket/index/ \
        --query '{"match": "parse index stream", "field": "content"}' \
        --similarity bm25 --size 10

A build writes one segment and publishes it as one commit of the index's
commit log (bleve_spark/build.py, bleve_spark/writer.py), retiring what
the index held. Re-submitting the same build command publishes nothing:
the build's fingerprint (row count, columns, mapping) is logged with its
segment; ``--no-resume`` rebuilds regardless. Build, ingest and query
timings come from the benchmark, ``python3 perfbench/run.py``
(perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# importable both under spark-submit --py-files (zip on the path) and
# when invoked directly from a checkout
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_ROOT, "bleve_spark")) and _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def _mapping(name: str):
    from bleve_spark import code_corpus_mapping, documents_mapping

    if name == "code":
        return code_corpus_mapping()
    if name == "documents":
        return documents_mapping()
    if name in ("none", "dynamic"):
        return None  # dynamic inference / persisted _MAPPING.json
    raise SystemExit(
        f"unknown mapping {name!r} (use: code | documents | dynamic)"
    )


def _session(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(args.app_name)
    if args.master:
        b = b.master(args.master)
    b = b.config("spark.sql.adaptive.enabled", "true")
    if args.shuffle_partitions:
        b = b.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    return b.getOrCreate()


def cmd_package(args):
    """Zip the bleve_spark package for --py-files shipping."""
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, "dist", "bleve_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(root, "bleve_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    print(out)


def cmd_build(args):
    from pyspark.sql import functions as F

    from bleve_spark import IndexBuilder

    spark = _session(args)
    corpus = spark.read.format(args.format).load(args.corpus)
    id_cols = args.id_cols.split(",")
    id_expr = (
        F.col(id_cols[0]) if len(id_cols) == 1 else F.concat_ws("|", *id_cols)
    )
    t0 = time.time()
    report = IndexBuilder(
        spark, _mapping(args.mapping), args.index
    ).build(corpus, id_expr=id_expr, resume=not args.no_resume)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "index": args.index,
                "wall_sec": round(wall, 2),
                "stages": report.stages,
            }
        )
    )


def cmd_query(args):
    from bleve_spark import (
        HighlightRequest,
        SearchIndex,
        Searcher,
        SearchRequest,
        parse_query,
    )
    from bleve_spark.query_string import parse_query_string

    spark = _session(args)
    idx = SearchIndex(spark, args.index, _mapping(args.mapping))
    try:
        q = parse_query(json.loads(args.query))
    except (json.JSONDecodeError, ValueError):
        q = parse_query_string(args.query)  # fall back to query-string syntax
    req = SearchRequest(
        query=q,
        size=args.size,
        from_=getattr(args, "from"),
        similarity=args.similarity,
        with_total=args.total,
        highlight=(
            HighlightRequest(fields=args.highlight.split(","))
            if args.highlight
            else None
        ),
    )
    t0 = time.time()
    res = Searcher(idx).search(req)
    rows = [r.asDict(recursive=True) for r in res.hits.collect()]
    out = {"took_sec": round(time.time() - t0, 3), "hits": rows}
    if res.total is not None:
        out["total_hits"] = res.total
    print(json.dumps(out, default=str))


def cmd_create(args):
    """Create a new empty index with a persisted mapping
    (ref: cmd/bleve/cmd/create.go)."""
    from bleve_spark import Index

    if os.path.exists(os.path.join(args.index, "_MAPPING.json")):
        raise SystemExit(f"index already exists at {args.index}")
    spark = _session(args)
    idx = Index(spark, args.index, _mapping(args.mapping))
    idx._persist_mapping()
    print(json.dumps({"status": "created", "index": args.index}))


def cmd_mapping(args):
    """Print the index's PERSISTED mapping as JSON
    (ref: cmd/bleve/cmd/mapping.go prints the index's real mapping —
    never a preset guess)."""
    from bleve_spark import Index

    m = Index._load_mapping(args.index)
    if m is None:
        raise SystemExit(
            f"no persisted _MAPPING.json at {args.index} (indexes "
            f"written by older builds predate mapping persistence)"
        )
    print(json.dumps(m.to_dict(), indent=2))


def cmd_count(args):
    """Live doc count (ref: cmd/bleve/cmd/count.go)."""
    from bleve_spark import SearchIndex

    spark = _session(args)
    idx = SearchIndex(spark, args.index, _mapping(args.mapping))
    print(json.dumps({"count": idx.doc_count}))


def cmd_fields(args):
    """Indexed field names (ref: cmd/bleve/cmd/fields.go)."""
    from bleve_spark import SearchIndex

    spark = _session(args)
    idx = SearchIndex(spark, args.index, _mapping(args.mapping))
    for i, f in enumerate(sorted(idx.field_stats)):
        print(f"{i} {f}")


def cmd_dictionary(args):
    """Term dictionary for a field, `term - count` per line
    (ref: cmd/bleve/cmd/dictionary.go)."""
    from pyspark.sql import functions as F

    from bleve_spark import SearchIndex

    spark = _session(args)
    idx = SearchIndex(spark, args.index, _mapping(args.mapping))
    d = (
        idx.dictionary.where(F.col("field") == args.field)
        .select("term", "df")
        .orderBy("term")
    )
    if args.limit:
        d = d.limit(args.limit)
    for r in d.toLocalIterator():
        print(f"{r['term']} - {r['df']}")


def cmd_dump(args):
    """Dump index contents (ref: cmd/bleve/cmd/dump.go + dumpDoc.go):
    with --doc-id, the stored document and its posting entries with
    their positions, decoded on the driver from the doc's posting block
    (docid >> BLOCK_SHIFT); else segment metadata and bounded
    posting/doc table samples."""
    import numpy as np
    from pyspark.sql import functions as F

    from bleve_spark import Index, SearchIndex
    from bleve_spark.writer import segment_metas

    spark = _session(args)
    reader = SearchIndex(spark, args.index, _mapping(args.mapping))
    if args.doc_id:
        doc = Index(spark, args.index, _mapping(args.mapping)).document(
            args.doc_id
        )
        if doc is None:
            raise SystemExit(f"no such document {args.doc_id!r}")
        print(json.dumps({"doc": doc}, default=str))
        row = (
            reader.docs.where(F.col("_id") == str(args.doc_id))
            .select("docid")
            .orderBy(F.desc("docid"))
            .limit(1)
            .collect()
        )
        docid = row[0]["docid"]
        for fld in sorted(reader.field_stats):
            postings, positions = reader.read_postings(
                fld, None, need_positions=True, docid=docid
            )
            ends = np.cumsum(postings["tf"].to_numpy())
            for (t, tf, length), end in zip(
                postings[["term", "tf", "length"]].itertuples(index=False), ends
            ):
                print(json.dumps({
                    "field": fld, "term": t, "docid": docid, "tf": int(tf),
                    "length": int(length),
                    "positions": positions[end - tf:end].tolist(),
                }))
        return
    metas = segment_metas(args.index)
    print(json.dumps({"segments": metas}, default=str))
    for name in ("dictionary", "postings", "docs"):
        tbl = getattr(reader, name)
        print(f"-- {name} ({tbl.count()} rows, first {args.limit}) --")
        for r in tbl.limit(args.limit).collect():
            d = r.asDict(recursive=True)
            # binary blocks print as lengths, not bytes
            for k, v in list(d.items()):
                if isinstance(v, (bytes, bytearray)):
                    d[k] = f"<{len(v)} bytes>"
            print(json.dumps(d, default=str))


def cmd_check(args):
    """Index consistency checks (ref: cmd/bleve/cmd/check.go), extended
    with segment/dead-docid/meta invariants:

    1. per-term: dictionary df == term-query hit total (the reference's
       check), over --count sampled terms per field; the query runs on
       the driver-local route and on the forced Spark route, which must
       agree on the total and the top hit's _id
    2. segment metas: docid ranges disjoint, doc counts match the
       stored table, seqs unique
    3. each segment's dead docids exist in it and match its logged count
    4. live doc_count == distinct live docids
    5. every per-field doc_count a head segment logs equals its docid
       span (each doc emits one length row per text field)
    """
    from pyspark.sql import functions as F

    from bleve_spark import (
        Searcher,
        SearchIndex,
        SearchRequest,
        query as Q,
        search as search_mod,
    )
    from bleve_spark.writer import segment_metas

    spark = _session(args)
    idx = SearchIndex(spark, args.index, _mapping(args.mapping))
    problems = []

    # 1. dictionary-vs-search parity per field. Like scorch, dictionary
    # df still counts dead docs until compaction, so with dead docids
    # the invariant is total <= df; without, total == df.
    has_dead = idx.deleted_docids is not None
    fields = [args.field] if args.field else sorted(idx.field_stats)
    searcher = Searcher(idx)
    # each term query runs on both routes: the default local gate, then
    # a zero gate, which forces the Spark route
    routes = {"local": search_mod.LOCAL_MAX_POSTINGS, "spark": 0}
    for fld in fields:
        rows = (
            idx.dictionary.where(F.col("field") == fld)
            .select("term", "df")
            .orderBy(F.desc("df"), "term")
            .limit(args.count)
            .collect()
        )
        for r in rows:
            t, df = r["term"], r["df"]
            req = SearchRequest(
                query=Q.TermQuery(field=fld, term=t), size=1, with_total=True
            )
            got, top = {}, {}
            try:
                for name, gate in routes.items():
                    search_mod.LOCAL_MAX_POSTINGS = gate
                    got[name] = searcher.search(req)
                    top[name] = [h["_id"] for h in got[name].hits.collect()]
            except Exception as exc:  # a broken index must not abort
                problems.append(
                    f"field {fld!r} term {t!r}: search failed: {exc}"
                )
                break
            finally:
                search_mod.LOCAL_MAX_POSTINGS = routes["local"]
            res = got["spark"]
            if (got["local"].total, top["local"]) != (res.total, top["spark"]):
                problems.append(
                    f"field {fld!r} term {t!r}: local route total "
                    f"{got['local'].total} top {top['local']} vs Spark route "
                    f"total {res.total} top {top['spark']}"
                )
            bad = (
                res.total > df if has_dead else res.total != df
            )
            if bad:
                problems.append(
                    f"field {fld!r} term {t!r}: dictionary df {df} "
                    f"vs search total {res.total}"
                )
        print(f"checked field {fld!r}: {len(rows)} terms on both routes")

    # 2. segment metas
    metas = segment_metas(args.index)
    seqs = [m["seq"] for m in metas]
    if len(seqs) != len(set(seqs)):
        problems.append(f"duplicate segment seqs: {seqs}")
    spans = sorted(
        (m["docid_start"], m["docid_end"], m["seq"])
        for m in metas
        if "docid_start" in m
    )
    for (s1, e1, q1), (s2, e2, q2) in zip(spans, spans[1:]):
        if s2 < e1:
            problems.append(
                f"segments {q1} and {q2} overlap docid ranges "
                f"[{s1},{e1}) and [{s2},{e2})"
            )
    for m in metas:
        seg_docs = spark.read.parquet(os.path.join(m["dir"], "docs"))
        agg = seg_docs.agg(
            F.count("*").alias("n"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
        ).collect()[0]
        span = m["docid_end"] - m["docid_start"]
        if agg["n"] != span:
            problems.append(
                f"segment {m['seq']}: docid span {span} != stored "
                f"rows {agg['n']}"
            )
        if agg["n"] and not (
            m["docid_start"] <= agg["lo"]
            and agg["hi"] < m["docid_end"]
        ):
            problems.append(
                f"segment {m['seq']}: stored docids "
                f"[{agg['lo']},{agg['hi']}] outside meta range "
                f"[{m['docid_start']},{m['docid_end']})"
            )

    # 3. dead docids exist in their segment and match its logged count
    if has_dead:
        dead = idx.deleted_docids.join(
            idx._table("docs").select("docid"), "docid", "left_semi"
        )
        for m in metas:
            n = dead.where(
                F.col("docid").between(m["docid_start"], m["docid_end"] - 1)
            ).count()
            if n != m["dead"]:
                problems.append(
                    f"segment {m['seq']}: {n} dead docids stored, "
                    f"log counts {m['dead']}"
                )

    # 4. live doc count == distinct docids
    live = idx.docs
    n_live = live.count()
    n_distinct = live.select("docid").distinct().count()
    if n_live != n_distinct:
        problems.append(
            f"duplicate live docids: {n_live} rows, {n_distinct} distinct"
        )
    if n_live != idx.doc_count:
        problems.append(
            f"doc_count {idx.doc_count} != live rows {n_live}"
        )

    # 5. logged field stats cover every doc of their segment
    for m in metas:
        span = m["docid_end"] - m["docid_start"]
        for fld, (n, _total) in sorted(m.get("fields", {}).items()):
            if n != span:
                problems.append(
                    f"segment {m['seq']}: field {fld!r} logs doc_count "
                    f"{n}, docid span {span}"
                )

    for pr in problems:
        print(f"PROBLEM: {pr}")
    print(
        json.dumps({"problems": len(problems), "segments": len(metas)})
    )
    if problems:
        raise SystemExit(1)


def cmd_bulk(args):
    """Bulk-load newline-delimited JSON files in batches
    (ref: cmd/bleve/cmd/bulk.go)."""
    from bleve_spark import Index

    spark = _session(args)
    idx = Index(spark, args.index, _mapping(args.mapping))
    total = 0
    batch: list = []

    def flush():
        nonlocal total, batch
        if batch:
            idx.batch(batch, id_field=args.id_field)
            total += len(batch)
            batch = []

    for path in args.data:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                doc = json.loads(line)
                if args.id_field not in doc:
                    doc[args.id_field] = str(total + len(batch))
                batch.append(doc)
                if len(batch) >= args.batch:
                    flush()
    flush()
    print(json.dumps({"indexed": total, "count": idx.doc_count()}))


def cmd_serve(args):
    """Host the REST handler layer (bleve_spark/http_api.py) from the
    Spark driver — the reference's http/*.go surface over spark-submit."""
    import time as _time

    from bleve_spark.http_api import HttpServer

    spark = _session(args)
    srv = HttpServer(spark, args.base_path, port=args.port).start()
    print(
        json.dumps(
            {"status": "serving", "port": srv.port, "base_path": args.base_path}
        ),
        flush=True,
    )
    try:
        while True:
            _time.sleep(3600)
    except KeyboardInterrupt:
        srv.stop()


def main(argv=None):
    p = argparse.ArgumentParser(prog="spark_job.py", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("package", help="zip bleve_spark for --py-files")

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None)
    common.add_argument("--app-name", default="bleve_spark")
    common.add_argument("--shuffle-partitions", type=int, default=None)
    common.add_argument("--mapping", default="code")

    b = sub.add_parser("build", parents=[common], help="build the index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--format", default="parquet")
    b.add_argument("--id-cols", default="repo,path,commit")
    b.add_argument("--no-resume", action="store_true")

    q = sub.add_parser("query", parents=[common], help="run one query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True, help="JSON query or query-string")
    q.add_argument("--size", type=int, default=10)
    q.add_argument("--from", type=int, default=0)
    q.add_argument("--similarity", default="tfidf", choices=["tfidf", "bm25"])
    q.add_argument("--total", action="store_true")
    q.add_argument("--highlight", default=None, help="comma-separated fields")

    s = sub.add_parser(
        "serve", parents=[common], help="serve the HTTP API"
    )
    s.add_argument("--base-path", required=True)
    s.add_argument("--port", type=int, default=8094)

    c = sub.add_parser(
        "create", parents=[common], help="create a new empty index"
    )
    c.add_argument("--index", required=True)

    cnt = sub.add_parser(
        "count", parents=[common], help="print the live doc count"
    )
    cnt.add_argument("--index", required=True)

    mp = sub.add_parser(
        "mapping", parents=[common], help="print the index mapping"
    )
    mp.add_argument("--index", required=True)

    fl = sub.add_parser(
        "fields", parents=[common], help="list indexed fields"
    )
    fl.add_argument("--index", required=True)

    dc = sub.add_parser(
        "dictionary", parents=[common],
        help="print a field's term dictionary",
    )
    dc.add_argument("--index", required=True)
    dc.add_argument("--field", required=True)
    dc.add_argument("--limit", type=int, default=0)

    dm = sub.add_parser(
        "dump", parents=[common], help="dump index contents"
    )
    dm.add_argument("--index", required=True)
    dm.add_argument("--doc-id", default=None)
    dm.add_argument("--limit", type=int, default=10)

    ck = sub.add_parser(
        "check", parents=[common], help="index consistency checks"
    )
    ck.add_argument("--index", required=True)
    ck.add_argument("--field", default=None)
    ck.add_argument(
        "--count", type=int, default=20,
        help="terms to verify per field",
    )

    bk = sub.add_parser(
        "bulk", parents=[common],
        help="bulk load newline-delimited JSON files",
    )
    bk.add_argument("--index", required=True)
    bk.add_argument("--batch", type=int, default=1000)
    bk.add_argument("--id-field", default="_id")
    bk.add_argument("data", nargs="+")

    args = p.parse_args(argv)
    dispatch = {
        "package": cmd_package,
        "build": cmd_build,
        "serve": cmd_serve,
        "create": cmd_create,
        "count": cmd_count,
        "mapping": cmd_mapping,
        "fields": cmd_fields,
        "dictionary": cmd_dictionary,
        "dump": cmd_dump,
        "check": cmd_check,
        "bulk": cmd_bulk,
        "query": cmd_query,
    }
    return dispatch[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
