"""Run-environment record, driver-tree memory, and the single-thread kernel probe."""

from __future__ import annotations

import math
import os
import platform
import random
import re
import time
from collections import Counter
from html.parser import HTMLParser


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def canary_s(spark) -> float:
    """Fixed pure-JVM probe (the same one as ``bench.py::_canary``): its time
    calibrates ambient load, so runs on loaded or different boxes show it."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr(
        "sum(cast(xxhash64(id) as decimal(38,0))) as s"
    ).collect()
    return time.perf_counter() - t0


# -- host-speed canary ------------------------------------------------------------
# Fixed work that uses no program code, timed before each timed job. On a
# shared host the speed the benchmark gets drifts by up to ~2x over minutes;
# the canary drifts with it, so job time over canary time stays put while the
# host changes, and moves when the program does.

_CANARY_WORDS = "court notice article agency ministry report order appeal budget".split()


def _canary_html() -> str:
    rng = random.Random(20240101)
    return "".join(
        f'<div class="c{i}"><p>{" ".join(rng.choice(_CANARY_WORDS) for _ in range(24))}'
        f'</p><a href="/x/{rng.randint(0, 99999)}">{rng.choice(_CANARY_WORDS)}</a></div>\n'
        for i in range(2000)
    )


_CANARY_HTML = _canary_html()


class _TextParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.parts: list[str] = []

    def handle_data(self, data: str) -> None:
        self.parts.append(data)


def python_canary_s() -> float:
    """Parse a fixed ~460 KB HTML string with the stdlib parser, collapse its
    whitespace and count its words: the kind of work the page UDF does."""
    t0 = time.perf_counter()
    p = _TextParser()
    p.feed(_CANARY_HTML)
    p.close()
    Counter(re.sub(r"\s+", " ", " ".join(p.parts)).split())
    return time.perf_counter() - t0


def jvm_canary_s(spark) -> float:
    """Fixed big-integer arithmetic inside the driver JVM, no Spark code."""
    big = spark._jvm.java.math.BigInteger
    t0 = time.perf_counter()
    big.valueOf(7).pow(40_000).sqrt().bitLength()
    return time.perf_counter() - t0


def scheduler_canary_s(spark) -> float:
    """Two tiny RDD jobs of four tasks each, run from the JVM side: the
    per-job scheduling and thread hand-off cost that dominates small Spark
    jobs. RDD jobs read no SQL setting, so no SQL setting moves them."""
    sc = spark._jsc.sc()
    t0 = time.perf_counter()
    for _ in range(2):
        sc.range(0, 400_000, 1, 4).count()
    return time.perf_counter() - t0


def host_canary_s(spark) -> float:
    """One pass of the three canaries: Python, JVM and Spark scheduler."""
    return python_canary_s() + jvm_canary_s(spark) + scheduler_canary_s(spark)


def versions() -> dict:
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# -- memory of the driver JVM and its Python workers --------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current RSS (Linux >= 4.0)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids``: an upper bound on the tree's peak RSS
    since the last ``reset_peak_rss`` (each process's own peak, added)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# -- kernel probe ---------------------------------------------------------------


def _loglog_slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of log(y) on log(x): ~1 linear, ~2 quadratic."""
    pts = [(math.log(x), math.log(y)) for x, y in zip(xs, ys) if x > 0 and y > 0]
    if len(pts) < 2:
        return 0.0
    mx = sum(p[0] for p in pts) / len(pts)
    my = sum(p[1] for p in pts) / len(pts)
    var = sum((p[0] - mx) ** 2 for p in pts)
    return sum((p[0] - mx) * (p[1] - my) for p in pts) / var if var else 0.0


def kernel_probe(htmls: list[bytes], seed: int, budget_s: float) -> dict:
    """Single-thread loop over a seeded sample of ``htmls`` calling
    ``kernels.extract_page`` then ``kernels.extract_fields`` on its text.

    Stops after ``budget_s`` seconds (at least 8 pages). Besides per-page
    and per-byte cost it reports the log-log slope of extract_fields time
    against extracted-text length over the sample, which reads ~2 while the
    field battery is quadratic in text length.
    """
    from legal_document_ocr_spark.kernels import extract_fields, extract_page

    sample = random.Random(seed).sample(htmls, min(len(htmls), 2000))
    page_s = fields_s = 0.0
    n_bytes = 0
    lengths, field_times = [], []
    t_end = time.perf_counter() + budget_s
    n = 0
    for raw in sample:
        if n >= 8 and time.perf_counter() > t_end:
            break
        t0 = time.perf_counter()
        text = extract_page(raw)["extracted_text"]
        t1 = time.perf_counter()
        extract_fields(text)
        t2 = time.perf_counter()
        page_s += t1 - t0
        fields_s += t2 - t1
        n_bytes += len(raw)
        lengths.append(len(text))
        field_times.append(t2 - t1)
        n += 1
    return {
        "pages": n,
        "page_s_per_page": page_s / n,
        "page_s_per_byte": page_s / n_bytes,
        "fields_s_per_page": fields_s / n,
        "fields_len_slope": _loglog_slope(lengths, field_times),
        "text_len_min": min(lengths),
        "text_len_max": max(lengths),
    }
