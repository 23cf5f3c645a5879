"""The benchmark's workloads: set-up, one timed operation, output checks,
and the per-layer numbers of a traced operation.

Every workload runs from this one driver process on ``local[nproc]`` with
``nproc`` shuffle partitions, and the engine receives only inputs generated
from the seed (``perfbench.inputs``). Every seed gives the same amount of
work: the drain fixes its canonical url count, and the polite crawl keeps
every host over its per-wave cap, so each wave admits as many urls.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.trace import gap_s, merge
from wss_spark import bucketing
from wss_spark.crawl import checkpoint, recrawl, robots
from wss_spark.crawl.frontier import CrawlConfig, run_crawl
from wss_spark.crawl.simulator import canonicalize, simulate
from wss_spark.extraction.kernel import ANCHOR, page_text
from wss_spark.operators import corpus, dedup
from wss_spark.session import get_spark
from wss_spark.synth import build_pages_df, seed_list

N_CPU = len(os.sched_getaffinity(0))

# seen-filter geometry sized to the inputs (under a thousand urls): 8
# buckets of 64 Kbit bloom or 256 four-slot cuckoo rows keep false
# positives rare without shipping production-sized (MB) filter states
# through every wave
SEEN_BUCKETS = 8
BLOOM_BITS = 1 << 16
CUCKOO_SLOTS = 1 << 8

DRAIN_URLS = 300
# clean_corpus settings of the drain's corpus stage: both languages of the
# synthetic hosts and a quality floor that about 40% of their pages pass
# (their Chinese text scores low on the quality heuristic), with
# clean_corpus's default near-duplicate threshold
CORPUS_LANGS = ("zh", "en")
CORPUS_MIN_QUALITY = 0.2
NEAR_THRESHOLD = 0.8

POLITE_BUDGET = 4
POLITE_SNAPSHOT_EVERY = 1
WAVE_SECONDS = 30.0

# per-layer metrics only the drain's refresh and corpus stages produce
REFRESH_CORPUS_METRICS = frozenset({
    "recrawl.diff_share", "recrawl.changed_ratio", "checkpoint.evict_share",
    "checkpoint.gc_share", "checkpoint.gc_bytes_reclaimed",
    "corpus.annotate_filter_share", "dedup.exact_share", "dedup.near_share",
    "dedup.candidate_pairs", "dedup.pair_precision", "corpus.keep_ratio",
})


def start_session(work: str):
    """The one Spark session of a run, with every scratch path inside
    ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = get_spark(
        app_name="perfbench", master=f"local[{N_CPU}]",
        shuffle_partitions=N_CPU,
        extra_conf={
            # a fixed-size heap (-Xms = -Xmx) keeps the JVM's resident peak
            # from following G1's adaptive heap growth run to run
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@dataclass
class Op:
    """One timed operation: its wall, its wave walls, the urls it fetched
    (robots-blocked urls are logged, never fetched), the walls of its
    stages, what the output checks need, and (traced only) the per-layer
    numbers."""

    run_s: float
    waves: list[float]
    urls: int
    out: dict
    stages: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)


@dataclass
class Crawl:
    """One collected ``run_crawl``: its result, its fetch log rows, its
    seen set and (traced only) the per-wave trace records."""

    res: object
    log: list
    seen: set
    waves: list = field(default_factory=list)


def _visit_order(log_rows) -> list[str]:
    rows = [r for r in log_rows if r["status"] != 403]
    rows.sort(key=lambda r: (r["wave"], r["priority"], r["seed_order"],
                             r["stage"], r["page"], r["canon_url"]))
    return [r["canon_url"] for r in rows]


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            n += 1
            b += os.path.getsize(os.path.join(dp, fn))
    return n, b


def _store_stats(d: str) -> tuple[int, int]:
    """(files, bytes) of the exact seen store under checkpoint dir ``d``."""
    n = b = 0
    for sub in ("seen_keys", "seen_segments"):
        sn, sb = _dir_stats(os.path.join(d, sub))
        n += sn
        b += sb
    return n, b


class Workload:
    name = ""
    # timed operations a run makes at least, whatever ``--seconds`` says,
    # so that every run's median has the same number of samples
    min_ops = 2
    # per-layer metrics of BENCHMARK.json this workload does not exercise;
    # the traced run marks them not applicable instead of measuring them
    not_measured: frozenset = frozenset()
    # per-layer metrics timed in every input set-up
    setup_metrics: tuple = ("synth.pages_gen_s", "bucketing.write_s")

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.setup_layer: dict[str, list[float]] = {
            k: [] for k in self.setup_metrics}
        self._n_ops = 0
        self._n_crawls = 0
        self._crawl_trace = None
        self._gids: list[str] = []

    # -- set-up ----------------------------------------------------------
    @staticmethod
    def n_targets(seed: int) -> int:
        """Synthetic weibo posts in the pages table; each renders 2-15
        pages."""
        raise NotImplementedError

    def _pages_table(self, name: str, n_targets: int, derive=None):
        """Generate the targets' pages (``synth.build_pages_df``), pass them
        through ``derive`` if given, and write them as a url-bucketed
        table."""
        t0 = time.perf_counter()
        pages = build_pages_df(self.spark, n_targets, seed=self.seed,
                               partitions=N_CPU)
        if derive is not None:
            pages = derive(pages)
        pages = pages.persist()
        pages.count()
        t1 = time.perf_counter()
        tbl = bucketing.write_bucketed(
            pages, name, os.path.join(self.work, "tables", name),
            bucket_col="url", n_buckets=N_CPU)
        t2 = time.perf_counter()
        pages.unpersist()
        self._setup_t["synth.pages_gen_s"] += t1 - t0
        self._setup_t["bucketing.write_s"] += t2 - t1
        return tbl

    def prepare(self) -> None:
        """Generate and write the inputs (repeated for the set-up median)."""
        self._setup_t = dict.fromkeys(self.setup_layer, 0.0)
        self._prepare()
        for k, v in self._setup_t.items():
            self.setup_layer[k].append(v)

    def _prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed: one operation, so that JVM code generation and Python
        workers are warm before timing."""
        self.op(traced=False)

    def op(self, traced: bool) -> Op:
        """One timed operation. Traced, it also fills ``Op.layer``."""
        self._n_ops += 1
        self._gids = []
        if self.tracer is not None:
            self._group(f"op{self._n_ops}" if traced else "untraced")
        lo = time.time()
        if self.tracer is None:
            op = self._op(traced)
        else:
            if traced:
                self._install_wrappers()
            try:
                with self.tracer.span(f"{self.name}.op", traced=traced):
                    op = self._op(traced)
            finally:
                self.tracer.unwrap_all()
        if traced:
            st = merge([self.tracer.group_stats(g) for g in self._gids])
            op.layer.update({
                "spark.jobs_per_op": st["jobs"],
                "spark.tasks_per_op": st["tasks"],
                "spark.driver_gap_s": gap_s(st, lo, lo + op.run_s),
                "spark.executor_run_s": st["run_ms"] / 1000.0,
                "exchange.shuffle_bytes_per_url":
                    st["shuffle_bytes"] / max(1, op.urls),
                "exchange.spill_bytes": st["spill_bytes"],
                "exchange.task_skew": st["skew"],
                "exchange.failed_tasks": st["failed_tasks"],
            })
        return op

    def _op(self, traced: bool) -> Op:
        raise NotImplementedError

    def check(self, op: Op, first: Op) -> list[str]:
        """Output checks (outside the timed window); one message per
        failure. ``first`` is the run's first timed op, which gets the full
        checks; later ops must reproduce it."""
        raise NotImplementedError

    # -- helpers ---------------------------------------------------------
    def _group(self, gid: str) -> None:
        if self.tracer is None:
            return
        self._gids.append(gid)
        self.tracer.group(gid)

    def _ckpt_dir(self) -> str:
        d = os.path.join(self.work, "ckpt", f"{self.name}-{self._n_ops}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _cfg(self, traced: bool, d: str, **cfg) -> CrawlConfig:
        return CrawlConfig(
            n_buckets=SEEN_BUCKETS, m_bits=BLOOM_BITS,
            cuckoo_slots=CUCKOO_SLOTS, n_salts=N_CPU, defer_logs=True,
            dedup_pages=False, checkpoint_dir=d, profile_phases=traced,
            track_bloom_stats=traced, **cfg)

    def _crawl(self, traced: bool, pages, seeds, cfg, robots=None,
               resume: bool = False, continue_seen: bool = False) -> Crawl:
        """``run_crawl`` until its fetch log and seen set are collected to
        the driver; traced, one job group per wave opened from ``on_wave``
        (each wave's entities write gets a sub-group, see
        ``_install_wrappers``)."""
        kwargs = {"robots": robots, "resume": resume,
                  "continue_seen": continue_seen}
        waves: list[dict] = []
        if traced:
            tr = self.tracer
            self._n_crawls += 1
            pre = f"op{self._n_ops}-c{self._n_crawls}"
            st = {"gid": f"{pre}-w0", "t": time.time()}
            self._crawl_trace = st
            self._gids.append(st["gid"] + "-x")
            self._group(st["gid"])

            def on_wave(m):
                now = time.time()
                x = tr.group_stats(st["gid"] + "-x")
                both = merge([tr.group_stats(st["gid"]), x])
                waves.append({"stats": both, "wall": now - st["t"],
                              "gap_s": gap_s(both, st["t"], now),
                              "x_run_ms": x["run_ms"]})
                tr.record("frontier.wave", st["t"], now, wave=m["wave"],
                          jobs=both["jobs"], tasks=both["tasks"],
                          **{k: v for k, v in m.items() if k.startswith("n_")},
                          phases=m.get("phases", {}))
                st["gid"], st["t"] = f"{pre}-w{len(waves)}", now
                self._gids.append(st["gid"] + "-x")
                self._group(st["gid"])

            kwargs["on_wave"] = on_wave
        try:
            res = run_crawl(self.spark, pages, seeds, cfg, **kwargs)
        finally:
            self._crawl_trace = None
        log = res.fetch_log.select(
            "url", "canon_url", "wave", "priority", "seed_order", "stage",
            "page", "status").collect()
        seen = {r[0] for r in res.seen.select("canon_url").collect()}
        return Crawl(res, log, seen, waves)

    def _install_wrappers(self) -> None:
        """Traced operations only: spans around the engine's eager public
        functions, on the modules the engine looks them up through."""
        tr = self.tracer
        for attr in ("write_seen_keys", "write_snapshot", "read_state",
                     "compact_seen_keys"):
            tr.wrap(checkpoint, attr)
        orig_write_log = checkpoint.write_log

        def write_log(root, name, wave, df):
            # the entities write is the extraction's materialization point:
            # its own job group makes the extraction stages separable
            st = self._crawl_trace
            if name != "entities" or st is None:
                return orig_write_log(root, name, wave, df)
            tr.group(st["gid"] + "-x")
            try:
                return orig_write_log(root, name, wave, df)
            finally:
                tr.group(st["gid"])

        tr.patch(checkpoint, "write_log", write_log)

    def _crawl_layer(self, crawls: list[Crawl], run_s: float, since: float,
                     d: str, prev: dict | None = None) -> dict:
        """Per-layer numbers of the crawls of one traced op; ``prev`` is
        the metrics of the wave before the first crawl's first wave, when
        that crawl resumed."""
        tr = self.tracer
        ms = [m for c in crawls for m in c.res.metrics]
        waves = [w for c in crawls for w in c.waves]
        wall = sum(w["wall"] for w in waves)

        def phase(k):
            return sum(m.get("phases", {}).get(k, 0.0) for m in ms)

        n_front = sum(m["n_frontier"] for m in ms)
        # the engine names the prefilter counts after the bloom under both
        # seen-filter variants
        n_maybe = sum(m.get("n_maybe", 0) for m in ms)
        n_fp = sum(m.get("n_bloom_fp", 0) for m in ms)
        # discovered rows of wave w = wave w+1's frontier minus the rows
        # wave w deferred; the new ones passed wave w+1's seen filter
        disc = new_disc = 0
        for i, c in enumerate(crawls):
            cm = c.res.metrics
            before = [prev] if prev is not None and i == 0 else []
            for a, b in zip(before + cm, cm):
                disc += b["n_frontier"] - a["n_deferred"]
                new_disc += b["n_new"] + b["n_deferred"] - a["n_deferred"]
        x_run_s = sum(w["x_run_ms"] for w in waves) / 1000.0
        n_pages = sum(1 for c in crawls for r in c.log if r["status"] == 200)
        store_n, store_b = _store_stats(d)
        out = {
            "frontier.jobs_per_wave":
                sum(w["stats"]["jobs"] for w in waves) / len(waves),
            "frontier.tasks_per_wave":
                sum(w["stats"]["tasks"] for w in waves) / len(waves),
            "frontier.driver_gap_share": sum(w["gap_s"] for w in waves) / wall,
            "frontier.admit_share": phase("admit") / run_s,
            "frontier.extract_share": phase("extract") / run_s,
            "frontier.discover_state_share": phase("discover_state") / run_s,
            "seen.maybe_ratio": n_maybe / n_front,
            "seen.dedup_probe_share": phase("p_dedup_bloom") / run_s,
            "seen.exact_anti_share": phase("p_seen_anti") / run_s,
            "politeness.admit_ratio":
                sum(m["n_admitted"] for m in ms) / n_front,
            "politeness.deferred_rows":
                sum(m["n_deferred"] for m in ms) / len(ms),
            "checkpoint.seen_write_share":
                tr.total("checkpoint.write_seen_keys", since) / run_s,
            "checkpoint.snapshot_share":
                (tr.total("checkpoint.write_snapshot", since)
                 + tr.total("checkpoint.read_state", since)) / run_s,
            "checkpoint.compact_share":
                tr.total("checkpoint.compact_seen_keys", since) / run_s,
            "checkpoint.store_files": store_n,
            "checkpoint.bytes_per_seen_key": store_b / len(crawls[-1].seen),
            "discover.share": phase("p_discover") / run_s,
            "extract.pages_per_task_s": n_pages / x_run_s,
            "extract.rows_per_page":
                sum(m["n_entities"] for m in ms) / n_pages,
        }
        # a ratio whose denominator is 0 is undefined (None), never 0
        out["seen.prefilter_fp_ratio"] = n_fp / n_maybe if n_maybe else None
        out["discover.new_ratio"] = new_disc / disc if disc else None
        return out


# ---------------------------------------------------------------------------


class BulkDrain(Workload):
    """A url-bucketed pages table seeded with every url, drained in one
    wave with no budget and no pages cache under the cuckoo seen filter;
    then a refresh cycle on the state the drain left (diff against a
    revised snapshot, evict the changed urls, one ``continue_seen``
    generation, ``gc_seen_store``); then ``clean_corpus`` over the drained
    page texts."""

    name = "bulk_drain"
    # one operation is a drain, a refresh cycle and a corpus clean, ~100
    # Spark jobs; a second would not fit the run's time budget
    min_ops = 1
    not_measured = frozenset({"robots.parse_s", "discover.new_ratio"})

    @staticmethod
    def n_targets(seed: int) -> int:
        return inputs.targets_for_urls(seed, DRAIN_URLS)

    def _prepare(self) -> None:
        n = self.n_targets(self.seed)
        self.pages = self._pages_table("bulk_pages", n)
        changed = inputs.changed_urls(
            self.seed, (r[0] for r in self.pages.select("url").collect()))

        def revise(pages):
            # the refresh snapshot: the table with the changed urls' html
            # revised, plus the new targets' pages
            return pages.withColumn("html", F.when(
                F.col("url").isin(changed),
                F.concat("html", F.lit(inputs.REV_MARK))).otherwise(F.col("html")))

        self.pages_v2 = self._pages_table(
            "bulk_pages_v2", n + inputs.new_targets(n), revise)
        self.n_v2 = self.pages_v2.count()
        self.dup_rows = inputs.corpus_dups(
            self.seed, inputs.target_pages(self.seed, n))
        self.dups = self.spark.createDataFrame(
            self.dup_rows, "url string, text string").persist()
        self.dups.count()

    def _op(self, traced: bool) -> Op:
        d = self._ckpt_dir()
        cfg = self._cfg(traced, d, budget=None, cache_pages=False,
                        max_waves=1, seen_filter="cuckoo")
        since = time.time()
        t0 = time.perf_counter()
        # single pass: every url is a seed, so a second wave would only
        # confirm that every discovered url is already seen
        drain = self._crawl(traced, self.pages, self.pages.select("url"), cfg)
        t1 = time.perf_counter()

        self._group(f"op{self._n_ops}-refresh")
        diff = recrawl.recrawl_diff(self.pages, self.pages_v2,
                                    content_col="html").localCheckpoint(eager=True)
        t2 = time.perf_counter()
        n_evicted = recrawl.evict_urls(
            self.spark, d, diff.filter(F.col("change") == "changed"), cfg)
        t3 = time.perf_counter()
        gen = self._crawl(traced, self.pages_v2, recrawl.recrawl_seeds(diff),
                          cfg, continue_seen=True)
        t4 = time.perf_counter()
        store_before = _store_stats(d)[1] if traced else 0
        gc = checkpoint.gc_seen_store(d)
        t5 = time.perf_counter()
        store_after = _store_stats(d)[1] if traced else 0

        self._group(f"op{self._n_ops}-clean")
        texts = drain.res.entities.filter(F.col("kind") == "page").select(
            "url", "text")
        kept = sorted(r[0] for r in corpus.clean_corpus(
            texts.unionByName(self.dups), langs=CORPUS_LANGS,
            min_quality=CORPUS_MIN_QUALITY, threshold=NEAR_THRESHOLD,
            id_col="url").select("url").collect())
        run_s = time.perf_counter() - t0

        w0 = max(m["wave"] for m in drain.res.metrics)
        gen_log = [r for r in gen.log if r["wave"] > w0]
        out = {"order": _visit_order(drain.log), "log": drain.log,
               "seen": drain.seen, "texts": {r["url"]: r["text"] for r in
                                             texts.collect()},
               "n_evicted": n_evicted, "gen_fetched": {
                   r["canon_url"] for r in gen_log if r["status"] == 200},
               "seen_after": gen.seen, "gc": gc, "kept": kept}
        stages = {"drain": t1 - t0, "diff": t2 - t1, "evict": t3 - t2,
                  "generation": t4 - t3, "gc": t5 - t4, "clean": run_s - (t5 - t0)}
        layer = {}
        if traced:
            tr = self.tracer
            n_docs = len(out["texts"]) + len(self.dup_rows)
            cands = tr.counts("dedup.lsh_candidate_pairs", since)
            pairs = tr.counts("dedup.jaccard_pairs", since)
            layer = self._crawl_layer([drain, gen], run_s, since, d)
            layer.update({
                "recrawl.diff_share": stages["diff"] / run_s,
                "recrawl.changed_ratio": len(gen_log) / self.n_v2,
                "checkpoint.evict_share": stages["evict"] / run_s,
                "checkpoint.gc_share": stages["gc"] / run_s,
                "checkpoint.gc_bytes_reclaimed": store_before - store_after,
                "corpus.annotate_filter_share":
                    tr.total("corpus.annotate", since) / run_s,
                "dedup.exact_share": tr.total("dedup.dedup_exact", since) / run_s,
                "dedup.near_share": tr.total("dedup.dedup_near", since) / run_s,
                "dedup.candidate_pairs": cands,
                "corpus.keep_ratio": len(kept) / n_docs,
                "dedup.pair_precision": pairs / cands if cands else None,
            })
        self.spark.catalog.clearCache()
        shutil.rmtree(d, ignore_errors=True)
        return Op(run_s, [m["wall_s"] for c in (drain, gen)
                          for m in c.res.metrics],
                  len(out["order"]) + len(gen_log), out, stages, layer)

    def _install_wrappers(self) -> None:
        super()._install_wrappers()
        tr = self.tracer
        # each clean_corpus stage materialized in its own span
        tr.wrap(corpus, "annotate", materialize=True)
        tr.wrap(dedup, "dedup_exact", materialize=True)
        tr.wrap(dedup, "dedup_near", materialize=True)
        tr.wrap(dedup, "lsh_candidate_pairs", materialize=True, count=True)
        tr.wrap(dedup, "jaccard_pairs", materialize=True, count=True)

    def check(self, op: Op, first: Op) -> list[str]:
        keys = ("order", "seen", "n_evicted", "gen_fetched", "seen_after",
                "kept")
        if op is not first:
            return [f"{k} differs between operations" for k in keys
                    if op.out[k] != first.out[k]]
        out = op.out
        errs = []
        n = self.n_targets(self.seed)
        rows = self.pages.select("url", "html", "text").collect()
        rows2 = self.pages_v2.select("url", "html", "text").collect()
        if inputs.pages_digest(rows) != inputs.pages_digest(
                inputs.target_pages(self.seed, n)):
            errs.append("pages table differs from the generated input")
        if inputs.pages_digest(rows2) != inputs.pages_digest(
                inputs.refresh_pages(self.seed, n)):
            errs.append("refresh snapshot differs from the generated input")

        # drain: urls sharing a canonical form are fetched once, so it must
        # see every canonical url, not fetch every url
        fetched = {r["url"] for r in out["log"] if r["status"] == 200}
        missed = {canonicalize(r["url"]) for r in rows} - out["seen"]
        if missed:
            errs.append(f"{len(missed)} canonical page urls never seen")
        if set(out["texts"]) != fetched:
            errs.append("extracted page set != fetched url set")
        bad = [r["url"] for r in rows if r["url"] in out["texts"]
               and out["texts"][r["url"]]
               != page_text(r["url"], bytes(r["html"]), ANCHOR)]
        if bad:
            errs.append(f"{len(bad)} extracted texts differ from "
                        f"kernel.page_text, e.g. {bad[0]}")

        # refresh: exactly the changed and new urls are re-fetched
        old = {r["url"]: bytes(r["html"]) for r in rows}
        new = {r["url"]: bytes(r["html"]) for r in rows2}
        changed = {canonicalize(u) for u in old if u in new and new[u] != old[u]}
        added = {canonicalize(u) for u in new if u not in old}
        if out["n_evicted"] != len(changed):
            errs.append(f"evicted {out['n_evicted']} seen keys, "
                        f"{len(changed)} urls changed")
        if out["gen_fetched"] != changed | added:
            errs.append("refresh generation fetched other urls than the "
                        "changed and new ones")
        if out["seen_after"] != out["seen"] | added:
            errs.append("seen set after the refresh != before + new urls")
        if not any(out["gc"].values()):
            errs.append("gc_seen_store reclaimed nothing after an eviction")
        errs += self._check_corpus(out)
        return errs

    def _check_corpus(self, out: dict) -> list[str]:
        """No two kept docs share normalized text, and every doc that
        passed the language/quality filter but was dropped has a kept doc
        in its duplicate component (same normalized text, or word-trigram
        Jaccard >= the threshold, taken transitively)."""
        docs = self.spark.createDataFrame(
            sorted(out["texts"].items()) + self.dup_rows,
            "url string, text string")
        ann = corpus.annotate(docs).select(
            "url", "lang_pred", "quality",
            dedup.normalize_text("text").alias("norm")).collect()
        passed = {r["url"]: r["norm"] for r in ann
                  if r["lang_pred"] in CORPUS_LANGS
                  and r["quality"] >= CORPUS_MIN_QUALITY}
        kept = set(out["kept"])
        errs = []
        if not kept <= set(passed):
            errs.append("kept docs that did not pass the filter")
            return errs
        if len({passed[u] for u in kept}) != len(kept):
            errs.append("two kept docs share normalized text")
        urls = sorted(passed)
        parent = {u: u for u in urls}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        grams = {}
        for u in urls:
            w = passed[u].split(" ")
            grams[u] = {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}
        for i, a in enumerate(urls):
            for b in urls[i + 1:]:
                ga, gb = grams[a], grams[b]
                if (passed[a] == passed[b] or len(ga & gb)
                        >= NEAR_THRESHOLD * len(ga | gb)):
                    parent[find(a)] = find(b)
        with_kept = {find(u) for u in kept}
        orphans = [u for u in urls if u not in kept and find(u) not in with_kept]
        if orphans:
            errs.append(f"{len(orphans)} dropped docs without a kept "
                        f"representative, e.g. {orphans[0]}")
        if not kept or len(kept) == len(urls):
            errs.append(f"corpus stage kept {len(kept)} of {len(urls)} docs")
        return errs


class PoliteCrawl(Workload):
    """Discovery crawl from the per-target seed list under a per-host wave
    budget and raw robots text with Disallow and Crawl-delay, over the
    skewed host mix, with the bloom prefilter and a snapshot every wave
    (compaction every other wave). One operation is one wave: the crawl is
    advanced wave by wave with ``run_crawl(resume=True)`` from the snapshot
    the previous wave wrote, so fixed cost per wave dominates and a run
    times several waves."""

    name = "polite_crawl"
    not_measured = REFRESH_CORPUS_METRICS
    setup_metrics = Workload.setup_metrics + ("robots.parse_s",)
    # wave 0 is the warm-up (the first resume measured no slower than
    # later ones)
    warm_waves = 1
    min_ops = 2

    @staticmethod
    def n_targets(seed: int) -> int:
        # every host has more frontier than its per-wave cap in every wave,
        # so each seed admits the same number of urls
        return 100

    def _prepare(self) -> None:
        self.pages = self._pages_table("polite_pages",
                                       self.n_targets(self.seed))
        self.seeds = seed_list(self.n_targets(self.seed), seed=self.seed)
        # the raw robots text is parsed once per run, by the engine's
        # parser, as run_crawl does with raw text; the parsed rules then
        # serve every wave, as a crawl advanced wave by wave keeps them
        t0 = time.perf_counter()
        self.robots = robots.parse_robots(self.spark.createDataFrame(
            sorted(inputs.ROBOTS.items()), "host string, robots_txt string")
        ).localCheckpoint(eager=True)
        self._setup_t["robots.parse_s"] += time.perf_counter() - t0
        self.d = os.path.join(self.work, "ckpt", self.name)
        shutil.rmtree(self.d, ignore_errors=True)
        self.waves_done = 0
        self.prev = None
        self.seen: set = set()
        self.log: list = []

    def warm(self) -> None:
        for _ in range(self.warm_waves):
            self.op(traced=False)

    def _op(self, traced: bool) -> Op:
        # one wave per call is one pass over the fetch index, which is
        # when CrawlConfig.cache_pages says caching it does not pay
        cfg = self._cfg(traced, self.d, budget=POLITE_BUDGET,
                        max_waves=self.waves_done + 1, cache_pages=False,
                        checkpoint_every=POLITE_SNAPSHOT_EVERY,
                        seen_filter="bloom", wave_seconds=WAVE_SECONDS)
        since = time.time()
        t0 = time.perf_counter()
        c = self._crawl(traced, self.pages, self.seeds, cfg, robots=self.robots,
                        resume=self.waves_done > 0)
        run_s = time.perf_counter() - t0
        layer = (self._crawl_layer([c], run_s, since, self.d, self.prev)
                 if traced else {})
        # deferred fetch-log parts stay cached until dropped
        self.spark.catalog.clearCache()
        self.prev = c.res.metrics[-1]
        self.seen = c.seen
        self.log += c.log
        out = {"wave": self.waves_done,
               "waves_run": sorted({m["wave"] for m in c.res.metrics}
                                   | {r["wave"] for r in c.log})}
        self.waves_done += 1
        return Op(run_s, [m["wall_s"] for m in c.res.metrics],
                  len(_visit_order(c.log)), out, {"wave": run_s}, layer)

    def check(self, op: Op, first: Op) -> list[str]:
        """The crawl so far (warm-up waves included) must equal
        ``crawl.simulator.simulate`` cut at the same wave; each operation
        ran exactly its wave."""
        if op.out["waves_run"] != [op.out["wave"]]:
            return [f"operation for wave {op.out['wave']} ran waves "
                    f"{op.out['waves_run']}"]
        if op is not first:
            return []
        errs = []
        page_map = {r["url"]: bytes(r["html"]) for r in
                    self.pages.select("url", "html").collect()}
        order, seen = simulate(
            page_map, self.seeds, POLITE_BUDGET, max_waves=self.waves_done,
            robots_blocked_prefixes=inputs.robots_blocked_prefixes(),
            crawl_delays=inputs.robots_crawl_delays(),
            wave_seconds=WAVE_SECONDS)
        if _visit_order(self.log) != order:
            errs.append("visit order differs from crawl.simulator.simulate")
        if self.seen != seen:
            errs.append("seen set differs from crawl.simulator.simulate")
        return errs


WORKLOADS = {w.name: w for w in (BulkDrain, PoliteCrawl)}
