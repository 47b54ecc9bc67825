"""Measurements taken beside the workloads: process-tree memory from /proc,
Spark job/stage/task counts from the JVM status store, and single-threaded
kernel timings of ``functions/*``."""

from __future__ import annotations

import os
import statistics
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields restart after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver, JVM,
    Python workers), in MB.  Pages the forked Python workers share are
    counted once (proportional set size), not once per worker."""
    kids = _children_map()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total_kb += _pss_kb(pid)
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's memory every INTERVAL seconds while
    started; ``peak_mb`` is the largest sample."""

    # a sample reads smaps_rollup, which walks the JVM's page tables: about
    # 25 ms of kernel time for a 2 GB JVM on a 4-core VM.  Sampled five
    # times a second this slowed the measured passes by several percent
    INTERVAL = 1.0

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.INTERVAL)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


class SparkCounters:
    """Job/stage/task totals between two points of a run, read from the
    JVM status store (the UI, and with it the REST API, is disabled).

    Every job in the interval is counted, whatever its job group: jobs
    submitted from driver threads do not inherit one."""

    def __init__(self, spark) -> None:
        gw = spark.sparkContext._gateway
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.last_job = self._max_id(self._store.jobsList(None), "jobId")
        self.last_stage = self._max_id(self._stages(), "stageId")

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    @staticmethod
    def _max_id(items, attr: str) -> int:
        n = items.size()
        return getattr(items.apply(0), attr)() if n else -1  # newest first

    def take(self) -> dict:
        """Totals since the previous ``take`` (or construction)."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._stages()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0}
        newest = None
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            out["jobs"] += 1
            newest = jid if newest is None else max(newest, jid)
        if newest is not None:
            self.last_job = newest
        newest = None
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.last_stage:
                break
            newest = sid if newest is None else max(newest, sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
        if newest is not None:
            self.last_stage = newest
        return out


def add_counts(parts: list[dict]) -> dict:
    return {k: sum(p[k] for p in parts) for k in parts[0]}


# -- kernels ----------------------------------------------------------------------

def _per_call_us(fn, args_list: list[tuple], budget_s: float) -> float:
    """Median per-call microseconds over repeated sweeps of ``args_list``."""
    samples = []
    deadline = time.perf_counter() + budget_s
    while True:
        t0 = time.perf_counter()
        for args in args_list:
            fn(*args)
        samples.append((time.perf_counter() - t0) * 1e6 / len(args_list))
        if len(samples) >= 3 and time.perf_counter() > deadline:
            break
    return statistics.median(samples)


def kernel_timings(pages: list[dict], budget_s: float = 0.4) -> dict:
    """Single-threaded, in-process µs per call of the ``functions/*``
    kernels on a page sample (dicts with url/html/http_header/warc_ts)."""
    from macocu_crawler_spark.functions import (
        boilerplate,
        charset,
        textkit,
        trigram,
        urlkit,
    )

    rows = [
        textkit.process_page(
            i, p["url"], p["html"], p["http_header"],
            p["warc_ts"].strftime("%Y%m%d%H%M%S"), "10.0.0.1",
        )
        for i, p in enumerate(pages)
    ]
    html_texts = []
    for p in pages:
        text, _meta, _chared = textkit.html_decode(p["html"], "")
        html_texts.append(text)
    models = textkit.get_lang_models()
    lang_args = [(models[r["lang"]], r["text"]) for r in rows if r["text"]]
    links = []
    for r in rows:
        for scheme, host, path in r["links"]:
            links.append((urlkit.url_join(scheme, host, path), r["host"]))
    if not (lang_args and links):
        raise ValueError("kernel sample has no accepted text or links")
    return {
        "textkit.process_page_us": _per_call_us(
            textkit.process_page,
            [(i, p["url"], p["html"], p["http_header"],
              p["warc_ts"].strftime("%Y%m%d%H%M%S"), "10.0.0.1")
             for i, p in enumerate(pages)],
            budget_s,
        ),
        "charset.detect_encodings_us": _per_call_us(
            charset.detect_encodings, [(p["html"],) for p in pages], budget_s
        ),
        "boilerplate.paragraphs_us": _per_call_us(
            boilerplate.make_paragraphs, [(t,) for t in html_texts], budget_s
        ),
        "trigram.lang_difference_us": _per_call_us(
            trigram.lang_difference, lang_args, budget_s
        ),
        "textkit.extract_links_us": _per_call_us(
            textkit.extract_links_from_html,
            [(t, p["url"], urlkit.url_split(p["url"])[1], False)
             for t, p in zip(html_texts, pages)],
            budget_s,
        ),
        "urlkit.url_split_and_check_us": _per_call_us(
            urlkit.url_split_and_check_parts, links, budget_s
        ),
    }
