"""Shared plumbing for the benchmark: state directories, the closed-loop
timer, percentiles, process-tree memory sampling and row normalisation
for DuckDB comparisons."""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "ai_powered_data_pipeline_assistant_spark"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
BASE_SEED = 42  # the base tables are fixed; --seed drives the operations
SCALE = 0.1  # scale factor of the base tables, shared by every workload


def source_hash() -> str:
    """Digest of the engine package and the benchmark sources. Every on-disk
    artifact lives under a directory named after it, so two code versions
    sharing a checkout never read each other's index or state."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), BENCH_DIR):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            for name in sorted(filenames):
                if name.endswith(".py") or name.endswith(".json"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


@dataclass(frozen=True)
class Paths:
    state: str

    @property
    def data(self) -> str:
        return os.path.join(self.state, f"sf{SCALE}")

    @property
    def tmp(self) -> str:
        return os.path.join(self.state, "tmp")

    @property
    def crawl_pristine(self) -> str:
        return os.path.join(self.state, "crawl_pristine")

    @property
    def oracles(self) -> str:
        return os.path.join(self.state, "oracles.json")

    @property
    def ready(self) -> str:
        return os.path.join(self.state, "_PREPARED")

    @property
    def runs(self) -> str:
        return os.path.join(self.state, "runs")


def paths() -> Paths:
    return Paths(os.path.join(BENCH_DIR, ".work", source_hash()))


def isolate_environment(p: Paths, extra_conf: str = "") -> None:
    """Point every temp and checkpoint location the engine uses at the
    per-version state directory, and make the package importable by the
    Python workers Spark starts."""
    for d in (p.tmp, os.path.join(p.state, "ckpt"), os.path.join(p.state, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = p.tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(p.state, "ckpt")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH", "")])
    )
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(p.state, 'warehouse')}",
        f"spark.local.dir={os.path.join(p.state, 'local')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={p.tmp}",
    ]
    if extra_conf:
        conf.append(extra_conf)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ------------------------------------------------------------ statistics
def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Op:
    """One measured operation of the closed loop."""

    kind: str
    t0: float  # perf_counter seconds
    t1: float
    wall0: float  # epoch seconds, aligns with Spark's event log
    units: int = 1  # work items it completed (docs for a crawl batch)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class Recorder:
    """Times operations and tags spans with the id of the running one."""

    ops: list[Op] = field(default_factory=list)
    measuring: bool = False
    current: int | None = None
    tracer: object = None

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a named span when the run is traced."""
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, fn, *args, **kwargs)

    def run(self, kind: str, fn, *args, **kwargs):
        self.current = len(self.ops) if self.measuring else None
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            if self.measuring:
                self.ops.append(Op(kind, t0, t1, wall0))
            self.current = None
        return result


# ------------------------------------------------------------ memory
def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory summed over this process and its descendants
    (the Python driver, the JVM and Spark's Python workers)."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_bytes(pid) for pid in tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ------------------------------------------------------------ comparisons
def norm(v) -> str:
    """One cell in the repo's cross-engine normal form (scripts/driver_sim)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def norm_rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Rows as tuples of normalised cells, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def is_sub_multiset(small: list, big: list) -> bool:
    from collections import Counter

    need = Counter(small)
    have = Counter(big)
    return all(have[k] >= n for k, n in need.items())


# ------------------------------------------------------------ shutdown
def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then end the gateway JVM and every process it
    started (Spark's Python workers), and wait until all are gone."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = [pid for pid in tree_pids(os.getpid()) if pid != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    alive = children
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [pid for pid in alive if os.path.exists(f"/proc/{pid}")
                 and not _is_zombie(pid)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rfind(")") + 2:].startswith("Z")
