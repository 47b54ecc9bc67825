"""The benchmark workloads.

Each workload builds its inputs from the seed, computes the expected
outputs with an oracle that does not use the Spark path (row-level
``textkit.process_page``, ``CrawlSimulator``, or DuckDB), loads the inputs
into Spark, and then runs timed *units* of identical work:

- ``reprocess``        one pass extract -> exact-dedup window -> aggregate
- ``crawl_fresh``      one crawl: init_from_seeds, ``rounds`` rounds, commit
- ``crawl_linkdense``  the same, over a link-dense web, on the scale path
- ``curate``           one pass minhash_lsh_pairs -> cc_clusters, onion_dedup

The engine is reached only through its public functions, looked up at the
module attribute where the engine itself (or this file) finds them at call
time, so that the traced run can wrap them there.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import time

from macocu_crawler_spark import crawl_driver, fixtures, tables
from macocu_crawler_spark.functions import textkit
from macocu_crawler_spark.operators import extract as extract_mod
from macocu_crawler_spark.operators import urlseen
from macocu_crawler_spark.pipeline import dedup_text
from macocu_crawler_spark.simulator import CrawlParams, CrawlSimulator

# Input sizes.  Fixed: a run varies only the seed.  A crawl round costs
# seconds of fixed Spark work at any width, so the crawls are kept to the
# fewest rounds that still show what each crawl workload is for.
REPROCESS_HOSTS, REPROCESS_PAGES, REPROCESS_DUP_SHARE = 60, 20, 0.10
FRESH_HOSTS, FRESH_PAGES, FRESH_ROUNDS = 200, 10, 6
DENSE_HOSTS, DENSE_PAGES, DENSE_SEEDED, DENSE_ROUNDS = 60, 40, 30, 2
DENSE_SAME_HOST, DENSE_CROSS_HOST = 30, 10
CURATE_DOCS, CURATE_NEAR_DUP_SHARE, CURATE_WARM_PASSES = 1500, 0.20, 3

# crawl_fresh: CrawlSimulator.admit_links takes the source host's in-batch
# distance, the Spark admit_links the pre-batch one.  On the host i -> i+1
# chain of build_bench_web this pushes host k to distance ~k in the
# simulator, which then drops the admissions of hosts beyond
# MAX_DOMAIN_DISTANCE; the first fetch log that shows it is round 4.
# Which side is right is open, so these mismatches count as failed checks
# (they show in fail_ratio) but do not make the run incorrect.
KNOWN_DIVERGENCE_FROM_ROUND = {"crawl_fresh": 4}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


class Checks:
    """Oracle comparisons, counted one per compared row or value."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.known = 0  # failed checks inside a documented divergence
        self.notes: list[str] = []

    def rows(self, label: str, got, want, known: bool = False) -> int:
        got, want = set(got), set(want)
        bad = len(got ^ want)
        self.attempted += len(got | want)
        self.failed += bad
        if known:
            self.known += bad
        if bad:
            self.notes.append(
                f"{label}: {bad} of {len(got | want)} rows differ"
                + (" (known divergence)" if known else "")
            )
        return bad

    def value(self, label: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.notes.append(f"{label}: got {got!r}, expected {want!r}")

    @property
    def correct(self) -> bool:
        return self.failed == self.known


def _sample(pages: list[dict], seed: int, n: int = 40) -> list[dict]:
    return random.Random(seed + 7).sample(pages, min(n, len(pages)))


class Workload:
    """One workload.  Subclasses implement:

    generate(rep)     build and write the inputs (set-up)
    oracle()          expected outputs, without Spark
    load(spark)       read and cache the inputs (set-up)
    warm()            untimed warm-up (set-up)
    unit(tracer=None) one timed unit -> {"wall", "items", "steps", ...}
    check(unit, checks), check_warm(checks)
    install(tracer), layer_metrics(tracer, unit)
    kernel_pages()    page sample for the functions/* timings
    """

    name = ""
    step_label = "pass"  # a unit's steps: passes, or crawl rounds
    # units measured at least, however long --seconds is: with one or two
    # units the median of a pass workload would follow the unit count
    min_units = 3
    max_units = 10**6

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.seed = seed
        self.work = work
        self.cores = cores
        self.spark = None

    def warm(self) -> None:
        pass

    def check_warm(self, checks: Checks) -> None:
        pass

    def kernel_pages(self) -> list[dict]:
        return _sample(self.web.pages, self.seed)


# -- reprocess ------------------------------------------------------------------


def reprocess_web(seed: int) -> fixtures.FixtureWeb:
    """build_bench_web plus a seeded share of exact-duplicate pages: the same
    html under a new URL of the same host.  build_bench_web alone has no
    duplicate texts, so without them the dedup window would do no work."""
    web = fixtures.build_bench_web(REPROCESS_HOSTS, REPROCESS_PAGES, seed=seed)
    rng = random.Random(seed * 7919 + 1)
    n = len(web.pages)
    for i, src in enumerate(rng.sample(web.pages, int(n * REPROCESS_DUP_SHARE))):
        web.pages.append({
            **src,
            "url": src["url"].rsplit("/", 1)[0] + f"/kopi{i}.html",
            "warc_ts": fixtures.BASE_TS + dt.timedelta(seconds=n + i),
        })
    return web


def _count_extract(sp, args, out) -> None:
    from pyspark.sql import functions as F

    row = out.agg(
        F.count("*").alias("pages"),
        F.sum((F.col("txt_len") > 0).cast("long")).alias("docs"),
        F.sum("txt_len").alias("txt"),
        F.sum("raw_len").alias("raw"),
    ).collect()[0]
    sp.counts.update(pages=row["pages"], docs=row["docs"] or 0,
                     txt_bytes=row["txt"] or 0, raw_bytes=row["raw"] or 0)


def _extract_metrics(tracer) -> dict:
    sp = tracer.named("extract.extract_documents")
    raw = sum(s.counts.get("raw_bytes", 0) for s in sp)
    return {
        "extract.busy_s": sum(s.dur for s in sp),
        "extract.pages": sum(s.counts.get("pages", 0) for s in sp),
        "extract.docs": sum(s.counts.get("docs", 0) for s in sp),
        "extract.clean_byte_ratio": (
            sum(s.counts.get("txt_bytes", 0) for s in sp) / raw if raw else 0.0
        ),
    }


class Reprocess(Workload):
    name = "reprocess"

    def generate(self, rep: int) -> None:
        self.web = reprocess_web(self.seed)
        self.dir = os.path.join(self.work, f"web{rep}")
        fixtures.write_web(self.dir, self.web)
        # wpage_id = generation order, the order first-wins dedup follows
        self.ids = {p["url"]: i for i, p in enumerate(self.web.pages)}

    def oracle(self) -> None:
        rows = [
            textkit.process_page(
                self.ids[p["url"]], p["url"], p["html"], p["http_header"],
                p["warc_ts"].strftime("%Y%m%d%H%M%S"), p["ip"],
            )
            for p in self.web.pages
        ]
        self.want_pages = {(r["url"], _md5(r["text"]), _md5(r["prevert"])) for r in rows}
        seen, dup = set(), {}
        for r in sorted(rows, key=lambda r: r["wpage_id"]):
            if r["txt_len"]:
                dup[r["url"]] = r["txt_hash"] in seen
                seen.add(r["txt_hash"])
        self.want_dups = set(dup.items())
        self.want_agg = (len(dup), sum(dup.values()),
                         sum(r["token_count"] for r in rows if r["txt_len"]))

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        ids = spark.createDataFrame(list(self.ids.items()), "url string, wpage_id long")
        if getattr(self, "pages", None) is not None:
            self.pages.unpersist()
        # spread over the session's cores before the clock starts: one
        # parquet file is one scan split here, not the layout at scale
        self.pages = (
            spark.read.parquet(os.path.join(self.dir, "pages.parquet"))
            .join(F.broadcast(ids), "url")
            .repartition(self.cores * 3)
            .cache()
        )
        self.n_pages = self.pages.count()

    def _ranked(self, docs):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("txt_hash").orderBy("wpage_id")
        return docs.filter(F.col("txt_len") > 0).withColumn(
            "is_dup", F.row_number().over(w) > 1
        )

    def warm(self) -> None:
        """One pass whose per-URL outputs are kept for check_warm."""
        from pyspark.sql import functions as F

        docs = extract_mod.extract_documents(self.pages).persist()
        self._warm_pages = {
            (r.url, r.t, r.p) for r in docs.select(
                "url", F.md5("text").alias("t"), F.md5("prevert").alias("p")
            ).collect()
        }
        self._warm_dups = {
            (r.url, r.is_dup) for r in self._ranked(docs).select("url", "is_dup").collect()
        }
        docs.unpersist()

    def check_warm(self, checks: Checks) -> None:
        checks.rows("page text+prevert", self._warm_pages, self.want_pages)
        checks.rows("dedup decisions", self._warm_dups, self.want_dups)

    def unit(self, tracer=None) -> dict:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        ranked = self._ranked(extract_mod.extract_documents(self.pages))
        if tracer is not None:
            with tracer.span("dedup.window") as sp:
                tracer.materialise(ranked, sp)
        agg = ranked.agg(
            F.count("*").alias("docs"),
            F.sum(F.col("is_dup").cast("long")).alias("dups"),
            F.sum("token_count").alias("tokens"),
        ).collect()[0]
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.release()
        return {"wall": wall, "items": self.n_pages, "steps": [wall],
                "agg": (agg["docs"], agg["dups"], agg["tokens"])}

    def check(self, result: dict, checks: Checks) -> None:
        for label, got, want in zip(("docs", "dups", "tokens"), result["agg"], self.want_agg):
            checks.value(f"pass {label}", got, want)

    def install(self, tracer) -> None:
        tracer.wrap(extract_mod, "extract_documents", "extract.extract_documents",
                    counter=_count_extract)

    def layer_metrics(self, tracer, unit: dict) -> dict:
        out = _extract_metrics(tracer)
        sp = tracer.named("dedup.window")
        out["dedup.busy_s"] = sum(s.dur for s in sp)
        out["dedup.docs"] = sum(s.counts["rows"][0] for s in sp)
        out["dedup.dups"] = unit["agg"][1]
        return out


# -- crawl workloads --------------------------------------------------------------


def linkdense_web(seed: int) -> fixtures.FixtureWeb:
    """DENSE_HOSTS hosts, each with an index page ``/`` and DENSE_PAGES
    pages; every page links DENSE_SAME_HOST distinct pages of its own host
    and DENSE_CROSS_HOST pages of random other hosts.  The first
    DENSE_SEEDED pages of every host are seeds, so when round 2 fetches the
    index pages (the shortest path, admitted with each new host) about
    three in four of their links are already seen."""
    rng = random.Random(seed)
    web = fixtures.FixtureWeb()
    hosts = [f"tett{i:04d}.no" for i in range(DENSE_HOSTS)]
    web.seeds = [f"http://{h}/side{q}.html" for h in hosts for q in range(1, DENSE_SEEDED + 1)]
    for hi, host in enumerate(hosts):
        for p in ["/"] + [f"/side{q}.html" for q in range(1, DENSE_PAGES + 1)]:
            same = rng.sample(range(1, DENSE_PAGES + 1), DENSE_SAME_HOST)
            links = [(f"side{q}.html", f"les side {q} her") for q in same]
            for _ in range(DENSE_CROSS_HOST):
                other = hosts[rng.randrange(DENSE_HOSTS)]
                q = rng.randint(1, DENSE_PAGES)
                links.append((f"http://{other}/side{q}.html", f"naboside {q} der"))
            paragraphs = [
                " ".join(rng.choice(fixtures.NO_SENTENCES) for _ in range(rng.randint(2, 4)))
                for _ in range(3)
            ]
            web.pages.append({
                "url": f"http://{host}{p}",
                "html": fixtures.render_page(rng, f"{host} {p}", paragraphs, links,
                                             nav_links=["/", "/arkiv.html"]),
                "http_header": fixtures.HDR,
            })
        web.robots.append({"scheme": "http", "host": host, "state": "EMPTY", "body": ""})
        web.dns.append({"scheme": "http", "host": host, "ip": f"10.3.{hi // 250}.{hi % 250}"})
    for idx, p in enumerate(web.pages):
        p["warc_ts"] = fixtures.BASE_TS + dt.timedelta(seconds=idx)
        p["ip"] = "10.9.9.9"
    return web


def _count_killed(sp, args, out) -> None:
    from pyspark.sql import functions as F

    sp.counts["killed"] = (out.filter(F.col("bad")).count()
                           - args[0].filter(F.col("bad")).count())


def _count_input(sp, args, out) -> None:
    sp.counts["in_rows"] = args[0].count()


def _count_write(sp, args, out) -> None:
    catalog, name, version = args[0], args[1], out
    size = 0
    for d, _dirs, files in os.walk(os.path.join(catalog.root, name, f"v={version}")):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    sp.counts["bytes"] = size


# the functions a traced crawl wraps, at the module attribute where
# crawl_driver (for urlseen: admission and crawl_driver) looks them up
CRAWL_WRAPS = [
    (crawl_driver, "apply_yield_rule", "domains.apply_yield_rule", _count_killed),
    (crawl_driver, "merge_counters", "domains.merge_counters", None),
    (crawl_driver, "apply_robots_arrivals", "domains.apply_robots_arrivals", None),
    (crawl_driver, "sweep_frontier", "frontier_queue.sweep_frontier", None),
    (crawl_driver, "select_urls", "scheduler_round.select_urls", None),
    (crawl_driver, "extract_documents", "extract.extract_documents", _count_extract),
    (crawl_driver, "dedup_batch", "dedup.dedup_batch", None),
    (crawl_driver, "admit_links", "admission.admit_links", _count_input),
    (crawl_driver, "bucketed_seq", "partitioning.bucketed_seq", None),
    (crawl_driver, "repartition_frontier", "partitioning.repartition_frontier", None),
    (urlseen, "filter_new_candidates", "urlseen.probe", None),
    (urlseen, "anti_join_seen_parts", "urlseen.exact", _count_input),
    (urlseen.BloomState, "add_new_seen", "urlseen.increment", None),
    (urlseen.CuckooState, "add_new_seen", "urlseen.increment", None),
    (urlseen.BloomState, "from_url_seen", "urlseen.rebuild", None),
    (urlseen.CuckooState, "from_url_seen", "urlseen.rebuild", None),
    (urlseen, "write_bucketed_seen", "urlseen.compact", None),
    (urlseen, "append_bucketed_seen", "urlseen.compact", None),
    (urlseen, "compact_dirty_buckets", "urlseen.compact", None),
    (tables.SnapshotCatalog, "write", "tables.write", _count_write),
]


class Crawl(Workload):
    step_label = "round"
    # a crawl unit takes longer than any --seconds in use; exactly one is
    # measured, so that a host fast enough to finish it early does not
    # double the run's length
    min_units = max_units = 1
    rounds = 0
    params_kw: dict = {}

    def build_web(self) -> fixtures.FixtureWeb:
        raise NotImplementedError

    def generate(self, rep: int) -> None:
        self.web = self.build_web()
        self.dir = os.path.join(self.work, f"web{rep}")
        fixtures.write_web(self.dir, self.web)

    def params(self) -> CrawlParams:
        return CrawlParams(max_rounds=self.rounds, **self.params_kw)

    def oracle(self) -> None:
        sim = CrawlSimulator(self.web, self.params()).run()
        self.want_log = [(r, s + 1, u) for r, s, u in sim.fetch_log]
        self.want_seen = set(sim.url_seen)
        self.want_docs = {(d["url"], _md5(d["text"]), _md5(d["prevert"])) for d in sim.documents}
        self.want_dups = set(sim.duplicate_ids)

    def _driver(self):
        self._n_drivers = getattr(self, "_n_drivers", 0) + 1
        workdir = os.path.join(self.work, f"crawl{self._n_drivers}")
        return crawl_driver.CrawlDriver(
            self.spark, self.dir, workdir, self.params(), checkpoint_every=0
        )

    def _drop(self, drv) -> None:
        shutil.rmtree(drv.catalog.root, ignore_errors=True)

    def load(self, spark) -> None:
        """The driver reads and caches its fixture tables when built; build
        one here so the set-up, not the first unit, pays for the first scan."""
        self.spark = spark
        old = getattr(self, "_loaded", None)
        if old is not None:
            for df in (old.pages, old.robots, old.dns, old.redirects):
                df.unpersist()
            self._drop(old)
        self._loaded = self._driver()

    def unit(self, tracer=None, counters=None) -> dict:
        """init_from_seeds, the rounds, commit.  No warm-up crawl precedes
        it: one costs about as much as the crawl measured, so the first
        use of each round plan is part of the unit."""
        drv = self._driver()
        steps, per_round, spark = [], [], []

        def take(into):
            if counters is not None:
                into.append(counters.take())

        take([])  # building the CrawlDriver is not part of the unit
        t0 = time.perf_counter()
        drv.init_from_seeds()
        take(spark)
        for _ in range(self.rounds):
            ts = time.perf_counter()
            if tracer is not None:
                tracer.root = tracer.open("crawl_driver.run_round")
            n = drv.run_round()
            if tracer is not None:
                tracer.close(tracer.root)
                tracer.root = None
                tracer.release()
            steps.append(time.perf_counter() - ts)
            take(per_round)
            if n == 0:
                break
        drv.commit()
        wall = time.perf_counter() - t0
        take(spark)
        return {"wall": wall, "items": sum(m["selected"] for m in drv.metrics),
                "steps": steps, "driver": drv, "per_round": per_round,
                "spark": spark + per_round}

    def check(self, result: dict, checks: Checks) -> None:
        from pyspark.sql import functions as F

        drv = result.pop("driver")
        known_from = KNOWN_DIVERGENCE_FROM_ROUND.get(self.name)
        got_log = [(r["round"], r.fetch_seq, r.url) for r in drv.fetch_log.collect()]
        diverged = False
        for rnd in sorted({x[0] for x in got_log} | {x[0] for x in self.want_log}):
            known = known_from is not None and rnd >= known_from
            bad = checks.rows(
                f"fetch log round {rnd}",
                [x for x in got_log if x[0] == rnd],
                [x for x in self.want_log if x[0] == rnd],
                known=known,
            )
            diverged |= bool(bad and known)
        # the final state follows from every round's fetches
        checks.rows("url_seen",
                    {(r.scheme, r.host, r.path_sanitised) for r in drv.url_seen.collect()},
                    self.want_seen, known=diverged)
        checks.rows("documents", {
            (r.url, r.t, r.p) for r in drv.documents.select(
                "url", F.md5("text").alias("t"), F.md5("prevert").alias("p")
            ).collect()
        }, self.want_docs, known=diverged)
        checks.rows("duplicates", {r.wpage_id for r in drv.duplicates.collect()},
                    self.want_dups, known=diverged)
        self._drop(drv)

    def install(self, tracer) -> None:
        for owner, attr, name, counter in CRAWL_WRAPS:
            tracer.wrap(owner, attr, name, counter=counter)

    def layer_metrics(self, tracer, unit: dict) -> dict:
        def busy(prefix):
            return sum(s.dur for s in tracer.spans if s.name.startswith(prefix))

        def rows(name):
            return sum(s.counts["rows"][0] for s in tracer.named(name))

        rounds = tracer.named("crawl_driver.run_round")
        round_s = sum(s.dur for s in rounds)
        self_s = sum(tracer.self_time(s) for s in rounds)
        adm = tracer.named("admission.admit_links")
        links = sum(s.counts["in_rows"] for s in adm)
        new = sum(s.counts["rows"][0] for s in adm)
        # probe: the prefilter call (scale path) or an exact anti-join called
        # straight from admission (plain path).  An exact anti-join under a
        # prefilter call sees only the rows the prefilter passed as
        # maybe-seen; the ones it returns were new after all
        by_id = {s.id: s for s in tracer.spans}
        probes = tracer.named("urlseen.probe")
        exact = tracer.named("urlseen.exact")
        under = [s for s in exact if s.parent in by_id and by_id[s.parent].name == "urlseen.probe"]
        probe_new = sum(s.counts["rows"][0] for s in probes)
        writes = tracer.named("tables.write")
        out = _extract_metrics(tracer)
        out.update({
            "crawl_driver.rounds": len(rounds),
            "crawl_driver.round_s": round_s,
            "crawl_driver.self_s": self_s,
            "crawl_driver.span_share": 1 - self_s / round_s if round_s else 0.0,
            "frontier_queue.busy_s": busy("frontier_queue."),
            "frontier_queue.rows": rows("frontier_queue.sweep_frontier"),
            "scheduler_round.busy_s": busy("scheduler_round."),
            "scheduler_round.selected": rows("scheduler_round.select_urls"),
            "domains.busy_s": busy("domains."),
            "domains.killed": sum(s.counts["killed"] for s in tracer.named("domains.apply_yield_rule")),
            "dedup.busy_s": busy("dedup."),
            "dedup.docs": out["extract.docs"],
            "dedup.dups": rows("dedup.dedup_batch"),
            "partitioning.busy_s": busy("partitioning."),
            "admission.busy_s": busy("admission."),
            "admission.links": links,
            "admission.new_urls": new,
            "admission.new_ratio": new / links if links else 0.0,
            "urlseen.probe_s": sum(s.dur for s in probes)
            + sum(s.dur for s in exact if s not in under),
            "urlseen.prefilter_pass": sum(s.counts["in_rows"] for s in under),
            "urlseen.fp_ratio": (
                sum(s.counts["rows"][0] for s in under) / probe_new if probe_new else 0.0
            ),
            "urlseen.increment_s": busy("urlseen.increment") + busy("urlseen.rebuild"),
            "urlseen.compact_s": busy("urlseen.compact"),
            "tables.write_s": sum(s.dur for s in writes),
            "tables.writes": len(writes),
            "tables.mb_written": sum(s.counts["bytes"] for s in writes) / 1e6,
        })
        return out


class CrawlFresh(Crawl):
    name = "crawl_fresh"
    rounds = FRESH_ROUNDS

    def build_web(self):
        return fixtures.build_bench_web(FRESH_HOSTS, FRESH_PAGES, seed=self.seed)


class CrawlLinkdense(Crawl):
    name = "crawl_linkdense"
    rounds = DENSE_ROUNDS
    params_kw = {
        "use_bloom_prefilter": True,
        "seen_prefilter": "cuckoo",
        "bloom_increment_mode": "distributed",
        "use_bucketed_seen": True,
    }

    def build_web(self):
        return linkdense_web(self.seed)


# -- curate -------------------------------------------------------------------------


def curate_corpus(seed: int) -> list[tuple[int, str]]:
    """CURATE_DOCS documents of Norwegian words; a seeded share are
    near-duplicates (a few tokens replaced) of an earlier original, so
    near-dup clusters of several members form.  Copies are made of
    originals only: clusters stay star-shaped, and the number of
    cc_clusters iterations does not swing with the seed."""
    rng = random.Random(seed)
    vocab = sorted({w.strip(".,").lower() for s in fixtures.NO_SENTENCES for w in s.split()})
    originals: list[list[str]] = []
    docs: list[list[str]] = []
    for _ in range(CURATE_DOCS):
        if originals and rng.random() < CURATE_NEAR_DUP_SHARE:
            toks = list(rng.choice(originals))
            for _ in range(max(1, len(toks) // 40)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(40, 120))]
            originals.append(toks)
        docs.append(toks)
    return [(i, " ".join(t)) for i, t in enumerate(docs)]


def _onion_key(rows):
    return {(a, b, c, round(d, 4), bool(e)) for a, b, c, d, e in rows}


class Curate(Workload):
    name = "curate"

    def generate(self, rep: int) -> None:
        self.corpus = curate_corpus(self.seed)

    def oracle(self) -> None:
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        try:
            con.register("documents", pd.DataFrame(self.corpus, columns=["doc_id", "text"]))
            self.want_pairs = set(con.execute(dedup_text.MINHASH_PAIRS_ORACLE).fetchall())
            self.want_cc = set(con.execute(dedup_text.CC_CLUSTERS_ORACLE).fetchall())
            self.want_onion = _onion_key(con.execute(dedup_text.ONION_ORACLE).fetchall())
        finally:
            con.close()

    def load(self, spark) -> None:
        self.spark = spark
        if getattr(self, "docs", None) is not None:
            self.docs.unpersist()
        self.docs = (
            spark.createDataFrame(self.corpus, "doc_id long, text string")
            .repartition(self.cores)
            .cache()
        )
        self.docs.count()

    def unit(self, tracer=None) -> dict:
        t0 = time.perf_counter()
        pairs = dedup_text.minhash_lsh_pairs(self.docs).persist()
        clusters = dedup_text.cc_clusters(self.docs, pairs)
        onion = dedup_text.onion_dedup(self.docs)
        got = (pairs.collect(), clusters.collect(), onion.collect())
        pairs.unpersist()
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.release()
        return {"wall": wall, "items": len(self.corpus), "steps": [wall], "got": got}

    def warm(self) -> None:
        # JIT compilation of the generated code takes several passes to
        # settle: after two warm-up passes the next three still ran ~15%
        # slower than the passes after them
        for _ in range(CURATE_WARM_PASSES):
            self._warm = self.unit()

    def check(self, result: dict, checks: Checks) -> None:
        pairs, clusters, onion = result["got"]
        checks.rows("minhash pairs", {tuple(r) for r in pairs}, self.want_pairs)
        checks.rows("cc clusters", {tuple(r) for r in clusters}, self.want_cc)
        checks.rows("onion", _onion_key(onion), self.want_onion)

    def check_warm(self, checks: Checks) -> None:
        self.check(self._warm, checks)

    def install(self, tracer) -> None:
        for name in ("minhash_lsh_pairs", "cc_clusters", "onion_dedup"):
            tracer.wrap(dedup_text, name, f"dedup_text.{name}")

    def layer_metrics(self, tracer, unit: dict) -> dict:
        def busy(name):
            return sum(s.dur for s in tracer.named(f"dedup_text.{name}"))

        pairs, clusters, _onion = unit["got"]
        return {
            "dedup_text.minhash_s": busy("minhash_lsh_pairs"),
            "dedup_text.pairs": len(pairs),
            "dedup_text.cc_s": busy("cc_clusters"),
            "dedup_text.clusters": sum(1 for d, rep, size in clusters if size > 1 and d == rep),
            "dedup_text.onion_s": busy("onion_dedup"),
        }

    def kernel_pages(self) -> list[dict]:
        return _sample(fixtures.build_bench_web(4, 10, seed=self.seed).pages, self.seed)


WORKLOADS = {w.name: w for w in (Reprocess, CrawlFresh, CrawlLinkdense, Curate)}
