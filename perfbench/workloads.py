"""The two workloads, query_mix and ingest_mix, and the layer probes of
the traced run. Each workload fills `run.e2e` (every end-to-end metric)
and, in a traced run, `run.layer` (every per-layer metric)."""

from __future__ import annotations

import contextlib
import glob
import os
import statistics
import sys
import time
from collections import Counter, defaultdict

import numpy as np

from inputs import FIELD, CLASSES, IngestPlan, QueryStream, corpus_parquet, write_parquet
from oracle import Oracle, top10_err

pc = time.perf_counter

QUERY_DOCS = 2_000  # query_mix index size
QUERY_MIN_DECKS = 1
INGEST_BASE = 1_000  # ingest_mix base batch
INGEST_BATCH = 1_000  # docs per ingest step, 20% of them upserts
INGEST_DELETES = 50  # ids deleted on every other step
INGEST_MIN_STEPS = 1
BUILD_STAGES = ("docs", "analyzed", "norms", "postings", "dictionary", "stats")
TABLES = ("docs", "norms", "postings", "dictionary")


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


class Run:
    """State of one benchmark run: paths, counters and the metric tables."""

    def __init__(self, root, workload, seed, seconds, tracer, t_start):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.t_start = t_start
        bench = os.path.join(root, "perfbench")
        self.cache = os.path.join(bench, ".cache")
        self.work = os.path.join(bench, ".work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.work, exist_ok=True)
        self.prep_s = 0.0  # input and oracle preparation, kept out of setup_s
        self.attempted = 0
        self.failed = 0
        self.e2e = {}
        self.layer = {}
        self.spark = None

    @contextlib.contextmanager
    def prep(self):
        t = pc()
        yield
        self.prep_s += pc() - t

    def setup_done(self):
        self.e2e["setup_s"] = (pc() - self.t_start - self.prep_s, "s")
        log(f"set-up {self.e2e['setup_s'][0]:.2f}s (+{self.prep_s:.2f}s input prep)")

    def check(self, what, err):
        """Count one checked op; `err` is None when its answer was right."""
        self.attempted += 1
        if err is not None:
            self.failed += 1
            log(f"WRONG {what}: {err}")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- set-up shared by both workloads ------------------------------------------

def start_session(run, cpus, local_dir, tmp_dir):
    from bleve_spark.session import get_spark

    with run.tracer.span("session.get_spark"):
        t = pc()
        spark = get_spark(
            master=f"local[{cpus}]",
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local_dir,
                # C1 only: in a run this short, C2 compiler threads take
                # cores from the tasks and never pay back
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:TieredStopAtLevel=1",
            },
        )
        run.layer["session.start_s"] = (pc() - t, "s")
    run.spark = spark

    def touch(batches):
        import bleve_spark.analysis  # noqa: F401  (load the analyzers once per worker)

        yield from batches

    # one Python worker per core, started and warmed before any timer; an
    # Arrow job, because RDD jobs start a separate pool of workers
    t1 = pc()
    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(touch, "id long").collect()
    log(f"session {t1 - t:.2f}s, workers {pc() - t1:.2f}s, since start {pc() - run.t_start:.2f}s")
    return spark


def open_index(run, path, mapping):
    """A new snapshot plus its first doc_count / field_stats."""
    from bleve_spark import SearchIndex

    with run.tracer.span("index.open"):
        t = pc()
        idx = SearchIndex(run.spark, path, mapping)
        idx.doc_count, idx.field_stats
        return idx, pc() - t


def run_query(run, searcher, q):
    """One request, timed from issue to the return of hits.collect()."""
    from bleve_spark import SearchRequest, parse_query

    tr = run.tracer
    with tr.jobs(run.spark.sparkContext) as jc, tr.span("bench.query"):
        t0 = pc()
        with tr.span("query.parse_query"):
            parsed = parse_query(q["query"])
        t1 = pc()
        res = searcher.search(SearchRequest(query=parsed, size=10, similarity=q["similarity"]))
        t2 = pc()
        with tr.span("search.collect"):
            rows = res.hits.collect()
        t3 = pc()
    return {
        "lat": t3 - t0, "parse": t1 - t0, "plan": t2 - t1, "exec": t3 - t2,
        "hits": [(r["_id"], float(r["score"])) for r in rows],
        "jobs": jc["jobs"], "tasks": jc["tasks"],
    }


def check_answer(oracle, q, r):
    body = q["query"]
    cls = q["cls"]
    if cls in ("term_rare", "term_hot"):
        return oracle.check_ranked(r["hits"], [body["term"]], "tfidf")
    if cls in ("match", "match_bm25"):
        return oracle.check_ranked(r["hits"], body["match"].split(), q["similarity"])
    return oracle.check_invariants(q, r["hits"])


def dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def table_stats(path):
    """Bytes per index table and parquet rows of postings / dictionary,
    summed over segments for a segmented index."""
    import pyarrow.parquet as pq

    roots = sorted(glob.glob(os.path.join(path, "segments", "seg-*"))) or [path]
    nbytes, rows = Counter(), Counter()
    for r in roots:
        for t in TABLES:
            d = os.path.join(r, t)
            nbytes[t] += dir_bytes(d)
            if t in ("postings", "dictionary"):
                for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
                    rows[t] += pq.ParquetFile(f).metadata.num_rows
    return nbytes, rows


def record_build_layer(run, path, reports, jobs):
    stage_s = defaultdict(list)
    for rep in reports:
        for s in rep.stages:
            stage_s[s["stage"]].append(s["wall_ms"] / 1e3)
    for st in BUILD_STAGES:
        run.layer[f"build.{st}_s"] = (median(stage_s[st]), "s")
    run.layer["build.spark_jobs"] = (median([j["jobs"] for j in jobs]), "count")
    run.layer["build.spark_tasks"] = (median([j["tasks"] for j in jobs]), "count")
    nbytes, rows = table_stats(path)
    run.layer["build.postings_rows"] = (rows["postings"], "rows")
    run.layer["build.dictionary_rows"] = (rows["dictionary"], "rows")
    for t in TABLES:
        run.layer[f"build.bytes.{t}"] = (nbytes[t], "bytes")


def record_search_layer(run, results, opens, segments):
    """Search, query and index figures of the timed requests; a class the
    workload does not send reads 0."""
    by_cls = defaultdict(list)
    for q, r in results:
        by_cls[q["cls"]].append(r["lat"])
    for cls in CLASSES:
        run.layer[f"search.{cls}.p50_s"] = (median(by_cls[cls]), "s")
    rs = [r for _, r in results]
    n = max(len(rs), 1)
    run.layer["search.plan_s"] = (median([r["plan"] for r in rs]), "s")
    run.layer["search.exec_s"] = (median([r["exec"] for r in rs]), "s")
    # too few samples a run for a steady p90, so it has no bound
    run.layer["search.p90_s"] = (pct([r["lat"] for r in rs], 90), "s")
    run.layer["search.spark_jobs_per_query"] = (sum(r["jobs"] for r in rs) / n, "count")
    run.layer["search.spark_tasks_per_query"] = (sum(r["tasks"] for r in rs) / n, "count")
    run.layer["search.queries"] = (len(rs), "count")
    run.layer["query.parse_s"] = (median([r["parse"] for r in rs]), "s")
    tr = run.tracer
    run.layer["index.open_s"] = (median(opens), "s")
    run.layer["index.segments_max"] = (segments, "count")
    run.layer["index.term_stats_lookups"] = (tr.term_lookups, "count")
    run.layer["index.term_stats_repeat_ratio"] = (
        tr.term_repeats / tr.term_lookups if tr.term_lookups else 0.0, "ratio")


def probe_layers(run, idx, hot_terms, seed):
    """Per-layer probes of the traced run, outside every timed op."""
    from bleve_spark import codec
    from bleve_spark.analysis import get_analyzer
    from bleve_spark.corpus import generate_rows

    # analysis: the code analyzer over a fixed seeded 2k-doc sample
    texts = list(generate_rows(0, 2000, seed=seed)["content"])
    an = get_analyzer("code")
    t = pc()
    ntok = sum(len(an.analyze(x)) for x in texts)
    run.layer["analysis.code.tokens_per_s"] = (ntok / (pc() - t), "tokens/s")

    # codec: seeded posting lists, sizes Zipf-like as in a real dictionary
    rng = np.random.default_rng([seed, 3])
    lists = [np.unique(rng.integers(0, 200_000, size=int(n)))
             for n in 20_000 / np.arange(1, 201) ** 0.8]
    t = pc()
    bufs = [codec.delta_encode(a) for a in lists]
    enc_s = pc() - t
    mb = sum(len(b) for b in bufs) / 1e6
    t = pc()
    back = [codec.delta_decode(b) for b in bufs]
    dec_s = pc() - t
    if not all(np.array_equal(a, b) for a, b in zip(lists, back)):
        raise RuntimeError("delta codec roundtrip changed a posting list")
    run.layer["codec.delta_encode_mb_per_s"] = (mb / enc_s, "MB/s")
    run.layer["codec.delta_decode_mb_per_s"] = (mb / dec_s, "MB/s")
    pos = [[sorted(rng.integers(1, 400, size=int(k)).tolist()) for k in rng.integers(1, 8, size=2000)]
           for _ in range(5)]
    pbufs = [codec.encode_positions(p) for p in pos]
    t = pc()
    for b, p in zip(pbufs, pos):
        codec.decode_positions(b, len(p))
    run.layer["codec.positions_decode_mb_per_s"] = (
        sum(len(b) for b in pbufs) / 1e6 / (pc() - t), "MB/s")

    # index: posting decode rate on the hot terms
    t = pc()
    nrows = idx.decoded(FIELD, hot_terms).count()
    run.layer["index.decode_rows_per_s"] = (nrows / (pc() - t), "rows/s")


def zero_writer_layer(run):
    for name, unit in (("writer.batch_index_p50_s", "s"), ("writer.delete_s", "s"),
                       ("writer.maybe_merge_s", "s"),
                       ("writer.merges", "count"), ("writer.docs_written", "docs"),
                       ("writer.docs_rewritten_per_doc_written", "ratio")):
        run.layer[name] = (0, unit)


# -- query_mix -----------------------------------------------------------------

def query_mix(run):
    from bleve_spark import IndexBuilder, Searcher, code_corpus_mapping

    spark, tr, mapping = run.spark, run.tracer, code_corpus_mapping()
    with run.prep():
        pdf, corpus_pq = corpus_parquet(run.cache, run.seed, 0, QUERY_DOCS)
        oracle = Oracle(pdf)
        stream = QueryStream(oracle, run.seed, 0)
        decks = [stream.deck() for _ in range(QUERY_MIN_DECKS)]
        warmup = QueryStream(oracle, run.seed, 1).make("match")
    path = os.path.join(run.work, "index")

    with tr.jobs(spark.sparkContext) as bj, tr.span("bench.setup_build"):
        t = pc()
        report = IndexBuilder(spark, mapping, path).build(spark.read.parquet(corpus_pq), resume=False)
        build_s = pc() - t
    log(f"set-up build {build_s:.2f}s")

    # one match from the other half of the vocabulary and docs, on a newly
    # opened snapshot, takes the first-query cost of the read path (about
    # 1.3x a warm query) out of the timer. The timed stream runs on the
    # same snapshot, as a server would after a refresh.
    tr.req = "warmup"
    idx, open_s = open_index(run, path, mapping)
    opens = [open_s]
    searcher = Searcher(idx)
    r = run_query(run, searcher, warmup)
    run.check(f"warm-up {warmup}", check_answer(oracle, warmup, r))
    log(f"warm-up {r['lat']:.3f}s (open {open_s:.3f}s)")
    tr.term_lookups = tr.term_repeats = 0
    run.setup_done()

    results, busy, k = [], 0.0, 0
    while k < QUERY_MIN_DECKS or busy < run.seconds:
        if k == len(decks):
            with run.prep():
                decks.append(stream.deck())
        for q in decks[k]:
            tr.req = f"q{len(results)}"
            try:
                r = run_query(run, searcher, q)
            except Exception as e:  # a failed query counts, the loop goes on
                run.check(q, repr(e))
                continue
            busy += r["lat"]
            log(f"{q['cls']:10s} {r['lat']:.3f}s plan {r['plan']:.3f}s")
            results.append((q, r))
            run.check(q, check_answer(oracle, q, r))
        k += 1
    tr.req = None

    lat = [r["lat"] for _, r in results]
    run.e2e.update({
        "build_docs_per_s": (QUERY_DOCS / build_s, "docs/s"),
        "index_bytes_per_input_byte": (dir_bytes(path) / oracle.content_bytes, "ratio"),
        "query_p50_s": (pct(lat, 50), "s"),
        "queries_per_s": (len(lat) / sum(lat), "q/s"),
        # the only write of query_mix is its set-up build
        "ingest_docs_per_s": (QUERY_DOCS / build_s, "docs/s"),
    })
    if tr.enabled:
        record_build_layer(run, path, [report], [bj])
        record_search_layer(run, results, opens, 1)
        run.layer["index.term_stats_s"] = (tr.total("index.term_stats", "q") / len(results), "s")
        zero_writer_layer(run)
        probe_layers(run, idx, oracle.vocabulary()[:5], run.seed)


def hits_err(hits, live, gone):
    """Invariants of a top-10 answer on a changing index."""
    bad = [h for h, _ in hits if h in gone or h not in live]
    return top10_err(hits) or (f"deleted or unknown ids {bad}" if bad else None)


def read_your_writes(run, idx, want, dead):
    """match of the `uniq` tokens of generations `want` (gen -> id) and
    `dead`; the only right answer is exactly the ids of `want`."""
    from bleve_spark import Searcher
    from bleve_spark.corpus import uniq_token

    words = [uniq_token(g) for g in list(want) + list(dead)]
    q = {"cls": "match", "similarity": "tfidf", "query": {"match": " ".join(words), "field": FIELD}}
    r = run_query(run, Searcher(idx), q)
    got, expect = sorted(h for h, _ in r["hits"]), sorted(want.values())
    return r, None if got == expect else f"hits {got}, expected {expect}"


# -- ingest_mix ----------------------------------------------------------------

def ingest_mix(run):
    from bleve_spark import IndexWriter, code_corpus_mapping
    from bleve_spark.writer import MergePlanOptions, segment_metas

    spark, tr, mapping = run.spark, run.tracer, code_corpus_mapping()
    sc = spark.sparkContext
    # base and step segments share the lowest tier; one segment per tier
    # makes every step run a tiered merge
    opts = MergePlanOptions(max_segments_per_tier=1)
    with run.prep():
        plan = IngestPlan(run.seed, INGEST_BASE, INGEST_BATCH, 0.2, INGEST_DELETES)
        base_pdf, base_pq = corpus_parquet(run.cache, run.seed, 0, INGEST_BASE)
        gen_bytes = {i: len(c.encode("utf-8")) for i, c in enumerate(base_pdf[FIELD])}
    path = os.path.join(run.work, "index")
    writer = IndexWriter(spark, mapping, path)
    with tr.span("bench.setup_build"):
        t = pc()
        writer.batch_index(spark.read.parquet(base_pq))
        base_s = pc() - t
    # warm the read path on a fresh snapshot, as the steps will read
    tr.req = "warmup"
    idx, _ = open_index(run, path, mapping)
    run.check("warm-up", read_your_writes(run, idx, {0: "doc-0", 1: "doc-1", 2: "doc-2"}, [])[1])
    run.setup_done()

    writes, deletes, merges, fresh, opens, reports, bjobs, results = [], [], [], [], [], [], [], []
    n_merges = rewritten = written = 0
    segments_max, busy, k, gone = 0, 0.0, 0, set()
    while k < INGEST_MIN_STEPS or busy < run.seconds:
        with run.prep():
            pdf, new_id, upserted, deleted = plan.step(k)
            gen0 = plan.next - INGEST_BATCH
            gen_bytes.update({gen0 + j: len(c.encode("utf-8")) for j, c in enumerate(pdf[FIELD])})
            batch_pq = write_parquet(pdf, os.path.join(run.work, f"batch-{k}.parquet"))
            gone |= {d for d, _ in deleted}
            # gens -> ids the snapshot must return, and gens it must not: the
            # new and the upserted version, not the replaced or deleted one
            want = {gen0 + INGEST_BATCH - 1: new_id, gen0: upserted[0]}
            dead = [upserted[1]] + [g for _, g in deleted[:1]]
        tr.req = f"step{k}"
        step_busy = 0.0
        with tr.span("bench.step"):
            with tr.jobs(sc) as bj:
                t = pc()
                reports.append(writer.batch_index(spark.read.parquet(batch_pq)))
                writes.append(pc() - t)
            bjobs.append(bj)
            segments_max = max(segments_max, len(segment_metas(path)))
            written += INGEST_BATCH
            if deleted:
                t = pc()
                writer.delete([d for d, _ in deleted])
                deletes.append(pc() - t)
                step_busy += deletes[-1]
            before = {m["seq"] for m in segment_metas(path)}
            t = pc()
            plans = writer.maybe_merge(opts)
            merges.append(pc() - t)
            n_merges += len(plans)
            rewritten += sum(m["docid_end"] - m["docid_start"]
                             for m in segment_metas(path) if m["seq"] not in before)
            # a fresh snapshot, read right after opening
            t = pc()
            idx, open_s = open_index(run, path, mapping)
            r, err = read_your_writes(run, idx, want, dead)
            fresh.append(pc() - t)
            opens.append(open_s)
            results.append(r)
            if err is None and idx.doc_count != len(plan.live):
                err = f"doc_count {idx.doc_count} != {len(plan.live)} live"
            run.check(f"step {k} read-your-writes", err or hits_err(r["hits"], set(plan.live), gone))
        busy += step_busy + writes[-1] + merges[-1] + fresh[-1]
        log(f"step {k}: write {writes[-1]:.2f}s merge {merges[-1]:.2f}s {plans} "
            f"fresh {fresh[-1]:.2f}s (query {r['lat']:.2f}s)")
        k += 1
    tr.req = None

    lat = [r["lat"] for r in results]
    live_bytes = sum(gen_bytes[g] for g in plan.live.values())
    run.e2e.update({
        # every batch_index call, the base batch of the set-up included
        "build_docs_per_s": ((INGEST_BASE + written) / (base_s + sum(writes)), "docs/s"),
        "index_bytes_per_input_byte": (dir_bytes(path) / live_bytes, "ratio"),
        "query_p50_s": (pct(lat, 50), "s"),
        "queries_per_s": (len(lat) / sum(lat), "q/s"),
        "ingest_docs_per_s": (written / (sum(writes) + sum(deletes) + sum(merges)), "docs/s"),
    })
    if tr.enabled:
        record_build_layer(run, path, reports, bjobs)
        record_search_layer(run, [({"cls": "match"}, r) for r in results], opens, segments_max)
        run.layer["index.term_stats_s"] = (tr.total("index.term_stats", "step") / len(results), "s")
        run.layer["writer.batch_index_p50_s"] = (median(writes), "s")
        run.layer["writer.delete_s"] = (median(deletes), "s")
        run.layer["writer.maybe_merge_s"] = (median(merges), "s")
        run.layer["writer.merges"] = (n_merges, "count")
        run.layer["writer.docs_written"] = (written, "docs")
        run.layer["writer.docs_rewritten_per_doc_written"] = (rewritten / written, "ratio")
        probe_layers(run, idx, ["get", "set", "parse", "build", "index"], run.seed)


WORKLOADS = {"query_mix": query_mix, "ingest_mix": ingest_mix}
