#!/usr/bin/env python3
"""Run one benchmark workload with one seed, as one closed-loop client.

    python3 perfbench/run.py --workload presto-sql-rw --seed 1 --seconds 20 --trace 0

Each run generates the workload's tables (from a fixed seed) into a
temporary directory inside the checkout and orders the operations by
``--seed``.  It sets up the engine once (``setup_s`` is timed from
process start to a ready ``Engine``), runs one untimed pass that checks
every operation's result against a DuckDB oracle and one untimed
warm-up pass, then repeats timed passes for about ``--seconds``.  With
``--trace 0`` the last line of standard output is the JSON result with
the end-to-end metrics; with ``--trace 1`` timed passes alternate
untraced and traced and the result holds the per-layer metrics.  See
perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import DATA_SEED, WORKLOADS, Op, catalog_ops, pass_order, sql_ops  # noqa: E402

# Each timed pass runs every operation once; the percentiles are over
# the operations of all timed passes
MIN_PASSES = 3
DEADLINE_S = 140.0  # stop timing early rather than overrun the 180 s limit


def _steal_ticks() -> int | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, ValueError, IndexError):
        return None


def _commit() -> str:
    try:
        head = open(os.path.join(ROOT, ".git", "HEAD")).read().strip()
        if head.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", head[5:])).read().strip()
        return head
    except OSError:
        return "unknown"


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                p = os.path.join(d, name)
                out[p] = os.path.getsize(p)
    return out


class _Collected:
    """A collected result in the shape ``testing.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns, self.rows = columns, rows

    def collect(self):
        return self.rows


def _in_order(cols, rows) -> list[tuple]:
    """Rows normalized as ``testing.norm_rows`` does, but kept in order."""
    from prestodb_presto_spark.testing import norm_cell

    idx = sorted(range(len(cols)), key=cols.__getitem__)
    return [tuple(norm_cell(r[i]) for i in idx) for r in rows]


def _rows_key(op: Op, cols, rows):
    from prestodb_presto_spark.testing import norm_rows

    return _in_order(cols, rows) if op.ordered else norm_rows(cols, rows)


class Runner:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.sf = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.failures: list[tuple[str, str]] = []
        self.unchecked: list[str] = []  # reads with no oracle (a new corpus case)
        self.attempted = 0
        self.spark = None
        self.reference: dict[str, list] = {}  # op name → normalized checked rows
        self.out_rows: dict[str, int] = {}

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from prestodb_presto_spark.engine import Engine
        from prestodb_presto_spark.queries import load_all
        from prestodb_presto_spark.session import get_spark

        # the inputs are the benchmark's, not the program's set-up: their
        # generation is left out of setup_s
        t_data = time.perf_counter()
        import datagen

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        # the launcher JVM that computes the Spark driver's command line would
        # otherwise write its perf-data file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        # sf0.001 needs a small fraction of the engine's default 8g driver
        # heap; under 8g the JVM's committed heap, and with it peak_rss_mb,
        # followed GC timing (a 30% spread over five runs)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        self.sf_dir = datagen.write_fixtures(os.path.join(self.run_dir, "data"), DATA_SEED, self.sf)
        data_s = time.perf_counter() - t_data
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        self.log_path = os.path.join(self.run_dir, "driver.log")
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": " ".join(
                [
                    f"-Dlog4j.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
                    f"-Dperfbench.log={self.log_path}",
                    f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData",
                ]
            ),
        }
        catalog = self.args.workload == "catalog-sf0.001"
        self.specs = load_all() if catalog else {}
        t0 = time.perf_counter()
        self.spark = spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.engine = Engine(spark, self.sf_dir)
        t2 = time.perf_counter()
        # process start to a ready Engine: imports, JVM launch, session,
        # SQL helper and table registration (and the catalog, if used)
        self.setup_s = t2 - T0 - data_s
        self.session_ms = (t1 - t0) * 1000
        self.register_ms = (t2 - t1) * 1000
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        if catalog:
            self.ops = catalog_ops(self.specs, self.rng)
        else:
            self.ops = sql_ops(self.rng, f"s{self.args.seed}")

    # -- one operation -----------------------------------------------------
    def run_plain(self, op: Op):
        if op.kind == "query":
            self.specs[op.name].spark_fn(self.spark, self.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return None
        return self.engine.sql(op.text, dialect="presto").collect()

    def run_traced(self, op: Op, probe, op_id: str):
        tr = probe.start(op_id, op.name)
        try:
            if op.kind == "query":
                with probe.span(tr, "queries.build"):
                    df = self.specs[op.name].spark_fn(self.spark, self.sf_dir)
                with probe.span(tr, "exec"):
                    df.write.format("noop").mode("overwrite").save()
                probe.finish(tr, [df])
                return None, tr
            with probe.span(tr, "write" if op.write else "engine.sql"):
                df = self.engine.sql(op.text, dialect="presto")
            with probe.span(tr, "exec"):
                rows = df.collect()
            probe.finish(tr)
            return rows, tr
        except BaseException:
            probe.abort(tr)
            raise

    def fail(self, op: Op, err: str) -> None:
        self.failures.append((op.name, err[:300]))

    # -- the checked pass --------------------------------------------------
    def check_pass(self) -> None:
        from prestodb_presto_spark.testing import compare, duckdb_oracle

        con = duckdb_oracle(self.sf_dir)
        for op in self.ops:
            self.attempted += 1
            try:
                if op.kind == "query":
                    df = self.specs[op.name].spark_fn(self.spark, self.sf_dir)
                else:
                    df = self.engine.sql(op.text, dialect="presto")
                got = _Collected(df.columns, df.collect())
                self.out_rows[op.name] = len(got.rows)
                cols = [c.lower() for c in got.columns]
                err = compare(got, con, op.oracle) if op.oracle else None
                if not err and op.oracle and op.ordered:
                    res = con.execute(op.oracle)
                    want = _in_order([d[0].lower() for d in res.description], res.fetchall())
                    if _in_order(cols, got.rows) != want:
                        err = "rows in another order than the oracle's ORDER BY"
                if op.kind == "sql" and op.oracle:
                    self.reference[op.name] = _rows_key(op, cols, got.rows)
                elif not op.oracle and not op.write and not op.name.endswith(".drop"):
                    self.unchecked.append(op.name)
            except Exception as exc:  # an operation that raises is a failure, by name
                err = f"{type(exc).__name__}: {exc}"
            if err:
                self.fail(op, f"check: {err}")
        con.close()

    def recheck(self, op: Op, rows) -> str | None:
        """Timed SQL results must equal the oracle-checked rows."""
        ref = self.reference.get(op.name)
        if ref is None or rows is None:
            return None
        cols = [c.lower() for c in rows[0].__fields__] if rows else []
        got = _rows_key(op, cols, rows) if rows else []
        return None if got == ref else "result differs from the checked pass"

    # -- timed passes ------------------------------------------------------
    def timed(self, probe=None):
        """Timed passes; with a probe, every second pass is traced.

        Returns the untraced passes as (wall s, [operation ms]), every
        untraced and traced operation wall as (name, ms), and the traces."""
        passes: list[tuple[float, list[float]]] = []
        walls = {"plain": [], "traced": []}
        traces = []
        n_pass = 0  # pass 0 is an untimed warm-up
        while True:
            warm = n_pass == 0
            traced = probe is not None and not warm and n_pass % 2 == 0
            order = pass_order(self.ops, self.rng, self.args.workload)
            if traced:
                probe.enable()
            lat: list[float] = []
            failed0 = len(self.failures)
            p0 = time.perf_counter()
            for k, op in enumerate(order):
                self.attempted += 1
                files0 = _tree_files(self.warehouse) if traced and op.write else None
                t0 = time.perf_counter()
                try:
                    if traced:
                        rows, tr = self.run_traced(op, probe, f"p{n_pass}o{k}")
                    else:
                        rows, tr = self.run_plain(op), None
                except Exception as exc:
                    self.fail(op, f"pass {n_pass}: {type(exc).__name__}: {exc}")
                    continue
                dt = time.perf_counter() - t0
                err = self.recheck(op, rows)
                if err:
                    self.fail(op, f"pass {n_pass}: {err}")
                if traced:
                    tr.counters["out_rows"] = self.out_rows.get(op.name, 0)
                    if files0 is not None:
                        files1 = _tree_files(self.warehouse)
                        new = {p: s for p, s in files1.items() if p not in files0}
                        tr.counters["write_files"] = len(new)
                        tr.counters["write_bytes"] = sum(new.values())
                    traces.append(tr)
                    walls["traced"].append((op.name, tr.spans[0].ms))
                else:
                    lat.append(dt * 1000)
                    walls["plain"].append((op.name, dt * 1000))
            took = time.perf_counter() - p0
            n_pass += 1
            if order and len(self.failures) - failed0 == len(order):
                print("# every operation of the pass failed; stopping", file=sys.stderr)
                break
            kind = " warm-up" if warm else " traced" if traced else ""
            print(f"# pass {n_pass - 1}{kind}: {took:.2f} s", file=sys.stderr)
            if warm:
                # the checked pass ran every operation once, but passes
                # still got faster after it: JIT and caches keep warming
                walls["plain"].clear()
                self.t_timed = time.perf_counter()
                continue
            if traced:
                probe.disable()
            else:
                passes.append((took, lat))
            # stop at the pass boundary nearest to --seconds
            elapsed = time.perf_counter() - self.t_timed
            if n_pass - 1 >= MIN_PASSES and elapsed + took / 2 >= self.args.seconds:
                break
            if time.perf_counter() - T0 > DEADLINE_S:
                break
        return passes, walls, traces

    # -- reporting ---------------------------------------------------------
    def receipt(self, load_before, steal_before, wall) -> dict:
        ncpu = len(os.sched_getaffinity(0))
        steal_after = _steal_ticks()
        steal = None
        if steal_before is not None and steal_after is not None:
            steal = 100.0 * (steal_after - steal_before) / (wall * ncpu * 100.0)
        sc = self.spark.sparkContext
        return {
            "nproc": ncpu,
            "spark_master": sc.master,
            "load_avg_before": load_before,
            "load_avg_after": os.getloadavg()[0],
            "steal_pct": steal,
            "spark_version": self.spark.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
            "commit": _commit(),
            "workload": self.args.workload,
            "seed": self.args.seed,
            "sf": self.sf,
        }

    def peak_rss_mb(self) -> dict[str, float]:
        return {
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": _hwm_kb(self.jvm_pid) / 1024.0,
        }


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) (continued fraction, Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    ) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return front * h


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a beta-weighted mean of
    all order statistics, so it moves smoothly instead of jumping between
    neighbouring samples when operations of different latency meet at p."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _run(args, run_dir: str) -> int:
    import layers

    load_before = os.getloadavg()[0]
    steal_before = _steal_ticks()
    r = Runner(args, run_dir)
    try:
        r.setup()
        phases = {"setup_end_s": time.perf_counter() - T0}
        r.check_pass()
        phases["check_end_s"] = time.perf_counter() - T0
        probe = None
        if args.trace:
            from tracing import Probe

            probe = Probe(r.spark, r.log_path)
        passes, walls, traces = r.timed(probe)
        phases["timed_end_s"] = time.perf_counter() - T0
        rss = r.peak_rss_mb()
        receipt = r.receipt(load_before, steal_before, time.perf_counter() - T0)
        receipt["peak_rss_mb"] = rss
    finally:
        if r.spark is not None:
            stop_spark(r.spark)
    phases["stopped_s"] = time.perf_counter() - T0
    receipt["phases"] = phases
    print("# receipt " + json.dumps(receipt), file=sys.stderr)
    for name, err in r.failures:
        print(f"# FAILED {name}: {err}", file=sys.stderr)
    failed = len(r.failures)
    attempted = r.attempted
    if args.trace:
        metrics = layers.per_layer(r, traces, walls, receipt)
        layers.write_trace(ROOT, args, traces, metrics, receipt)
    else:
        lat = [ms for _, pass_lat in passes for ms in pass_lat]
        metrics = {
            "setup_s": (r.setup_s, "s"),
            "latency_p50_ms": (percentile(lat, 0.5), "ms"),
            "latency_p90_ms": (percentile(lat, 0.9), "ms"),
            "ops_per_s": (len(lat) / sum(wall for wall, _ in passes), "1/s"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
        }
        by_op: dict[str, list[float]] = {}
        for name, ms in walls["plain"]:
            by_op.setdefault(name, []).append(ms)
        print("# per-operation median ms: " + json.dumps(
            {k: round(statistics.median(v), 1) for k, v in sorted(by_op.items())}), file=sys.stderr)
        print(f"# timed operations: {len(lat)} in {len(passes)} passes", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{name}: {value:.6g} {unit}")
    unchecked = f"; unchecked, no oracle: {', '.join(r.unchecked)}" if r.unchecked else ""
    print(f"correct: {not r.failures} ({attempted} attempted, {failed} failed{unchecked})")
    print(
        json.dumps(
            {
                "correct": not r.failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import prestodb_presto_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here ({exc})", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
