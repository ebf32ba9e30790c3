"""Crawl workloads and the replay of every crawl layer on their inputs.

One operation is one crawl from the seeds to its fixpoint (or to
``max_rounds``) into a fresh snapshot root; the graph, the seeds and the
``TableFetcher`` are built in set-up and shared by every operation.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import oracles
from perfbench.harness import CORES
from perfbench.metrics import PHASES
from perfbench.sparklog import last_job_id


def noop(df) -> None:
    """Force full execution of ``df`` without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


class CrawlWorkload:
    n_pages = 0
    n_hosts = 64
    out_degree = 8
    seed_frac = 0.01
    max_rounds = 6
    # the untimed warm-up crawl: enough rounds to compile every plan
    # shape the timed crawl runs and let the JIT settle
    warm_rounds = 6
    # the oracle cuts BFS at max_rounds - 1 unless the crawl must reach
    # its fixpoint first
    to_fixpoint = False

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.roots = os.path.join(work, "roots")
        os.makedirs(self.roots, exist_ok=True)
        self.graph = None
        self.notes: dict = {}
        # the self-test's hook: rewrites the results the oracle checks
        self.corrupt = None

    def seed_order(self):
        """bench.py's pick: the lexicographically first urls."""
        return F.col("url")

    # -- inputs ------------------------------------------------------------

    def config(self):
        from simplecrawler_spark.config import CrawlConfig
        return CrawlConfig(same_authority_only=False,
                           max_rounds=self.max_rounds, bloom_enabled=True)

    def generate(self):
        from simplecrawler_spark.sources.fixtures import synthetic_graph
        return synthetic_graph(self.spark, n_pages=self.n_pages,
                               n_hosts=self.n_hosts,
                               out_degree=self.out_degree, seed=self.seed)

    def allowed(self, n: int, hid: np.ndarray):
        return None

    def setup(self) -> None:
        """Input generation and persist, seed pick, fetcher build."""
        from simplecrawler_spark.sources.fetch import TableFetcher

        if self.graph is not None:
            self.graph.unpersist()
        g = self.generate().repartition(CORES).persist()
        g.count()
        n_seeds = max(1, int(self.n_pages * self.seed_frac))
        self.seeds = [r.url for r in oracles.pages(g).select("url")
                      .orderBy(self.seed_order()).limit(n_seeds).collect()]
        self.cfg = self.config()
        self.fetcher = TableFetcher(g, self.cfg)
        self.graph = g

    def warm(self) -> None:
        """An untimed crawl of the same graph: compiles the plan shapes
        and starts the Python workers the timed crawl uses."""
        from simplecrawler_spark.plans.crawl import FrontierCrawler

        cfg = dataclasses.replace(self.cfg, max_rounds=self.warm_rounds)
        root = tempfile.mkdtemp(dir=self.roots)
        FrontierCrawler(self.spark, self.fetcher, cfg, root=root).crawl(
            self.seeds)
        shutil.rmtree(root, ignore_errors=True)

    def prepare_oracle(self) -> None:
        n, hid, src, dst = oracles.edge_arrays(self.graph)
        seed_ids = np.array([int(u.rsplit("/", 1)[1]) for u in self.seeds])
        depth = None if self.to_fixpoint else self.max_rounds - 1
        allowed = self.allowed(n, hid)
        ids = oracles.bfs_visited(n, src, dst, seed_ids, allowed, depth)
        if allowed is not None:
            self.notes["robots_blocked_seeds"] = int(
                (~allowed[seed_ids]).sum())
        self.expected = oracles.expected_summary(self.spark, self.graph, ids)

    # -- the timed operation ----------------------------------------------

    def op(self, tracer) -> dict:
        from simplecrawler_spark.plans.crawl import FrontierCrawler

        root = tempfile.mkdtemp(dir=self.roots)
        crawler = FrontierCrawler(self.spark, self.fetcher, self.cfg,
                                  root=root)
        j0 = last_job_id(self.spark)
        with tracer.span("crawl") as sp:
            crawler.crawl(self.seeds)
        jobs = last_job_id(self.spark) - j0
        snaps = crawler.store.snapshots()
        results = crawler.results()
        if self.corrupt is not None:
            results = self.corrupt(results)
        got = oracles.visited_summary(results)
        errors = oracles.check_visited(got, self.expected)
        if self.to_fixpoint and snaps \
                and snaps[-1]["metrics"]["frontier_next"] != 0:
            errors.append("stopped at max_rounds before the fixpoint")
        if tracer.enabled:
            _round_spans(tracer, sp.idx, crawler.store, snaps)
        return {"wall": sp.seconds, "items": got["rows"],
                "steps": [s["metrics"]["wall_secs"] for s in snaps],
                "errors": errors, "crawler": crawler, "snaps": snaps,
                "jobs": jobs}

    def release(self, op: dict) -> None:
        shutil.rmtree(op["crawler"].root, ignore_errors=True)

    # -- per-layer numbers (traced run) -------------------------------------

    def layers(self, tracer, ops: list[dict]) -> dict:
        op = ops[-1]
        out = phase_metrics(op)
        with tracer.span("replay"):
            out.update(replay_crawl_layers(self, tracer, op))
        return out


def _round_spans(tracer, parent: int, store, snaps) -> None:
    """Rounds and their ``_mark()`` phases as child spans of the crawl.
    A round ends when its snapshot file is written; its phases follow
    each other from the round's start."""
    offset = time.time() - time.monotonic()
    for s in snaps:
        path = os.path.join(store.root, "snapshots",
                            f"snap-{s['id']:06d}.json")
        end = os.path.getmtime(path) - offset
        m = s["metrics"]
        start = end - m["wall_secs"]
        ridx = tracer.add(f"round.{m['round']}", start, end, parent)
        t = start
        for name, secs in m.get("phases", {}).items():
            tracer.add(f"phase.{name}", t, t + secs, ridx)
            t += secs


def phase_metrics(op: dict) -> dict:
    """The program's own per-round phase timers, summed over the
    crawl, plus what they leave unaccounted for."""
    metrics = [s["metrics"] for s in op["snaps"]]
    out = {f"crawl.phase.{p}_s": sum(m.get("phases", {}).get(p, 0.0)
                                     for m in metrics) for p in PHASES}
    all_phases = sum(sum(m.get("phases", {}).values()) for m in metrics)
    out["crawl.rounds"] = len(metrics)
    out["crawl.untracked_s"] = op["wall"] - all_phases
    out["crawl.jobs_per_round"] = op["jobs"] / max(1, len(metrics))
    return out


def replay_crawl_layers(wl: CrawlWorkload, tr, op: dict) -> dict:
    """Time each crawl layer's public function on the op's recorded
    inputs: the frontier of its largest round and the seen table as of
    the round before. Every span ends in a forced sink."""
    from simplecrawler_spark.functions.canonical import (
        canonicalize_df, url_hash,
    )
    from simplecrawler_spark.operators.parse import (
        attach_links_canonical, explode_page_links,
    )
    from simplecrawler_spark.operators.partitioning import repartition_salted
    from simplecrawler_spark.operators.politeness import (
        apply_global_budget, schedule_budget, schedule_budget_join,
    )
    from simplecrawler_spark.operators.robots import (
        RobotsState, can_fetch_filter, can_fetch_join, crawl_delay_col,
        fetch_robots_table,
    )
    from simplecrawler_spark.operators.seen import (
        BloomSeen, CuckooSeen, anti_join_seen,
    )
    from simplecrawler_spark.plans import schemas
    from simplecrawler_spark.plans.tables import SnapshotStore

    spark, cfg, crawler = wl.spark, wl.cfg, op["crawler"]
    store = crawler.store
    scratch = os.path.join(wl.work, "replay")
    out: dict = {}

    big = max(op["snaps"], key=lambda s: s["metrics"]["done_new"])
    r = big["round"]
    frontier = (store.read("frontier", partition=f"r{r}")
                .where(F.col("round") == r).persist())
    n_front = frontier.count()

    # operators.partitioning
    part = repartition_salted(frontier, CORES, salt_buckets=cfg.salt_buckets)
    sizes = [row[1] for row in
             part.groupBy(F.spark_partition_id()).count().collect()]
    out["partition.max_over_mean"] = (max(sizes) / (sum(sizes) / CORES)
                                      if sizes else 0.0)

    # sources.fetch
    fetched = wl.fetcher(part).persist()
    with tr.span("fetch") as s:
        noop(fetched)
    out["fetch.s"] = s.seconds
    out["fetch.rows"] = fetched.count()

    # operators.parse
    flag = (F.col("status").between(200, 299)
            & F.col("content_type").startswith("text/html"))
    staged = attach_links_canonical(
        fetched.withColumn("_parse", flag), trim_query=cfg.trim_query,
        trim_fragment=cfg.trim_fragment, extractor=cfg.link_extractor,
    ).persist()
    with tr.span("parse") as s:
        noop(staged)
    n_links = staged.agg(F.sum(F.size("links"))).first()[0] or 0
    out["parse.s"] = s.seconds
    out["parse.pages"] = out["fetch.rows"]
    out["parse.links"] = n_links
    out["parse.links_per_s"] = n_links / s.seconds if s.seconds else 0.0

    # functions.canonical
    links = explode_page_links(staged).persist()
    links.count()
    with tr.span("canonical") as s:
        noop(canonicalize_df(links.select(
            F.col("url_resolved").alias("url_raw"))))
    out["canon.s"] = s.seconds
    out["canon.urls"] = n_links

    # operators.seen, against the seen table of the round before
    cand = (links.withColumn("url_hash", url_hash(F.col("url_norm")))
            .dropDuplicates(["url_norm"]).persist())
    n_cand = cand.count()
    prev = [s for s in op["snaps"] if s["round"] == r - 1]
    seen = (store.read_at("seen", prev[0]["id"]) if prev else
            spark.createDataFrame([], schemas.SEEN)).persist()
    n_seen = seen.count()
    bloom = BloomSeen(expected_items=max(cfg.bloom_min_items,
                                         cfg.bloom_initial_capacity),
                      fpp=cfg.bloom_fpp)
    with tr.span("bloom.add") as s:
        bloom.add_df(seen)
    out["bloom.add_s"] = s.seconds
    with tr.span("seen.antijoin") as s:
        new = anti_join_seen(cand, seen, bloom).persist()
        noop(new)
    out["seen.antijoin_s"] = s.seconds
    out["seen.cand_rows"] = n_cand
    out["seen.new_rows"] = new.count()
    keys = seen.select("url_hash", "url_norm")
    if bloom.added:
        maybe = cand.where(bloom.maybe_seen_col(cand)).persist()
        out["seen.exact_probe_rows"] = maybe.count()
        unseen = cand.join(keys, ["url_hash", "url_norm"], "left_anti").count()
        false_pos = maybe.join(keys, ["url_hash", "url_norm"],
                               "left_anti").count()
        out["seen.bloom_fp_rate"] = false_pos / unseen if unseen else 0.0
        maybe.unpersist()
    else:  # empty filter: every candidate goes to the exact anti-join
        out["seen.exact_probe_rows"] = n_cand
        out["seen.bloom_fp_rate"] = 0.0

    cuckoo = CuckooSeen(capacity=max(1 << 16, 2 * n_seen))
    cuckoo.save_shards(os.path.join(scratch, "cuckoo"))
    cuckoo.add_df(seen)
    with tr.span("cuckoo.delete") as s:
        cuckoo.delete_df(seen.where(F.col("round_added") == 0))
    out["cuckoo.delete_s"] = s.seconds

    # operators.robots: refetch every authority's robots.txt, then run
    # the gate RobotsState picks for the polite_hosts rule set over
    # this crawl's authorities, so the gate and the budget below do real
    # work even on a crawl whose hosts serve no robots.txt
    auths = {row.authority: "http"
             for row in store.read("robots").select("authority").collect()}
    with tr.span("robots.fetch") as s:
        noop(fetch_robots_table(spark, auths, wl.fetcher, cfg))
    out["robots.fetch_s"] = s.seconds
    robots_df = spark.createDataFrame(
        [(a, robots_txt(int(a[1:].split(".")[0]))) for a in sorted(auths)],
        "authority string, robots_txt string")
    robots_df = robots_df.withColumn(
        "crawl_delay", crawl_delay_col(F.col("robots_txt"), cfg.user_agent)
    ).persist()
    state = RobotsState.from_table(robots_df,
                                   closure_max=cfg.robots_closure_max,
                                   delay_max=cfg.robots_delay_map_max)
    with tr.span("robots.gate") as s:
        if state.use_join_gate:
            allowed = can_fetch_join(frontier, robots_df, cfg)
        else:
            allowed = can_fetch_filter(frontier, state.robots_frame(), cfg)
        allowed = allowed.persist()
        noop(allowed)
    out["robots.gate_s"] = s.seconds
    out["robots.rows_in"] = n_front
    out["robots.allowed_rows"] = allowed.count()

    # operators.politeness
    with tr.span("politeness") as s:
        if state.use_delay_join:
            sched, deferred = schedule_budget_join(allowed, robots_df, cfg)
        else:
            sched, deferred = schedule_budget(allowed, state.delays or {},
                                              cfg)
        sched, deferred = apply_global_budget(sched, deferred, cfg)
        sched, deferred = sched.persist(), deferred.persist()
        noop(sched)
        noop(deferred)
    out["politeness.s"] = s.seconds
    out["politeness.scheduled_rows"] = sched.count()
    out["politeness.deferred_rows"] = deferred.count()

    # plans.tables: a scratch store for append/commit/compact, the
    # crawl's own store for the seen read and the file count
    st = SnapshotStore(spark, os.path.join(scratch, "store"),
                       schemas={"frontier": schemas.FRONTIER})
    with tr.span("store.append") as s:
        path = st.append("frontier", frontier, "r0")
    out["store.append_s"] = s.seconds
    out["store.append_mb"] = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "*"))
    ) / (1024.0 * 1024.0)
    with tr.span("store.commit") as s:
        st.commit_snapshot(0, {})
    out["store.commit_s"] = s.seconds
    for i in (1, 2):
        st.append("frontier", frontier, f"r{i}")
        st.commit_snapshot(i, {})
    with tr.span("store.compact") as s:
        st.compact("frontier", merge_partitions=True)
    out["store.compact_s"] = s.seconds
    with tr.span("store.read_seen") as s:
        noop(store.read("seen"))
    out["store.read_seen_s"] = s.seconds
    out["store.data_files"] = len(glob.glob(
        os.path.join(store.root, "data", "*", "*", "*.parquet")))

    # expiry, last because it rewrites the crawl's seen table
    crawler.attach_cuckoo()
    with tr.span("seen.expire") as s:
        crawler.expire_seen(before_round=max(1, r)).count()
    out["seen.expire_s"] = s.seconds

    for df in (frontier, fetched, staged, links, cand, seen, new,
               robots_df, allowed, sched, deferred):
        df.unpersist()
    return out


class BfsOpen(CrawlWorkload):
    """The headline crawl: 64 Zipf hosts, out-degree 8, 1% seeds, four
    rounds, bloom on, no robots.txt anywhere and no budget."""
    n_pages = 40_000
    # depths 0-3 hold ~400, 3k, 17k and 19k pages, depth 4 only ~700
    # and depth 5 0-4: four rounds give every seed the same round count
    # and skip the tail rounds that are nearly all fixed cost
    max_rounds = 4
    warm_rounds = 4


def robots_txt(hid: int) -> str:
    """The robots.txt of host ``hid``: ``Disallow: /p/1`` on every third
    host, ``Crawl-delay: 3`` on every second."""
    return ("User-agent: *\n"
            + ("Disallow: /p/1\n" if hid % 3 == 0 else "")
            + ("Crawl-delay: 3\n" if hid % 2 == 0 else ""))


class PoliteHosts(CrawlWorkload):
    """Hundreds of hosts, each serving the benchmark's ``robots_txt``,
    so the per-host budget defers most of the hot host's pages and the
    crawl runs many small rounds to its fixpoint."""
    n_pages = 4_000
    n_hosts = 400
    max_rounds = 100
    warm_rounds = 4
    to_fixpoint = True

    def seed_order(self):
        """Urls in hash order, so the seeds spread over many hosts (the
        first urls by name all sit on host 0 under its Disallow)."""
        return F.xxhash64("url", F.lit(self.seed))

    def generate(self):
        graph = super().generate()
        rows = [(f"http://h{h}.test/robots.txt", robots_txt(h))
                for h in range(self.n_hosts)]
        robots = self.spark.createDataFrame(rows, "url string, body string")
        return graph.unionByName(robots.select(
            "url", F.col("url").alias("url_norm"),
            F.lit(200).alias("status"),
            F.lit("text/plain").alias("content_type"), "body",
            F.lit(None).cast("string").alias("redirect_location"),
            F.lit(None).cast("string").alias("ua_required"),
            F.lit(None).cast("string").alias("image_id")))

    def allowed(self, n: int, hid: np.ndarray):
        rows = (self.graph.where(F.col("url").endswith("/robots.txt"))
                .select("url", "body").collect())
        rules = {int(r.url.split("//h")[1].split(".")[0]):
                 oracles.disallow_prefixes(r.body) for r in rows}
        return oracles.allowed_mask(n, hid, rules)


class TinyCrawl(CrawlWorkload):
    """A small fixed crawl that gives the crawl layers something to
    replay in the traced run of a workload that does not crawl."""
    n_pages = 2_000
    n_hosts = 8
    out_degree = 6
    max_rounds = 3
