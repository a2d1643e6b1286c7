"""The benchmark workloads: the anonymization release route through the
product entry ``cli.main``, and a slice of the ``bench.HEADLINE`` queries.

Each workload generates its inputs from the seed (``prepare``), runs one
closed-loop pass at a time (``run_pass``, the only timed call) and checks
outputs outside the timed region (``check_pass`` after every pass,
``check_run`` once at the end).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def testdata(sf: str) -> str:
    """The read-only base corpus at ``sf``, next to the one the repo's
    tests use."""
    from tests.conftest import SF_SMOKE

    return os.path.join(os.path.dirname(SF_SMOKE), sf)


# The release input is five key-shifted replicas of sf0.01's lineitem
# (300k rows), so every QI class holds a multiple of five rows.  With
# these QIs k=10 drops about 12% of the rows and l=2 on l_linestatus a
# further 25%, so both enforcement steps really suppress.
ANON_BASE_SF, ANON_REPLICAS = "sf0.01", 5
ANON_QIS = ["l_returnflag", "l_shipdate", "l_quantity", "l_discount"]
ANON_K, ANON_L, ANON_SA = 10, 2, "l_linestatus"


def anon_route(seed: int, out: str) -> dict:
    return {
        "input": {"table": "lineitem"},
        "columns": {"l_orderkey": "di", **{q: "qi" for q in ANON_QIS},
                    "l_extendedprice": "sa", ANON_SA: "sa"},
        "steps": [
            {"op": "pseudonymize_sha2", "col": "l_orderkey", "salt": f"release{seed}|"},
            {"op": "generalize_numeric", "col": "l_quantity", "width": 5},
            {"op": "generalize_date", "col": "l_shipdate", "unit": "month"},
            {"op": "top_bottom_code", "col": "l_extendedprice", "p_lo": 0.05, "p_hi": 0.95},
            {"op": "k_enforce_suppress", "qis": ANON_QIS, "k": ANON_K},
            {"op": "l_diversity_enforce", "qis": ANON_QIS, "sa": ANON_SA, "l": ANON_L},
            {"op": "select",
             "cols": ["l_orderkey", *ANON_QIS, "l_tax", "l_extendedprice", ANON_SA]},
        ],
        "output": {"path": out, "partition_by": ["l_returnflag"]},
    }


def in_child(func: str, **kwargs):
    """Run ``perfbench.<module>.<function>(**kwargs)`` in a fresh Python and
    return its JSON result.  DuckDB work (input generation, output checks)
    runs there, so its memory and threads never mix with the engine's."""
    module = func.split(".")[0]
    code = (f"import json, sys; from perfbench import {module}; "
            f"print(json.dumps({func}(**json.loads(sys.argv[1]))))")
    proc = subprocess.run([sys.executable, "-c", code, json.dumps(kwargs)],
                          cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def release_check(out: str, src: str) -> tuple[list[str], list]:
    """Check a written release against its input with DuckDB; returns the
    errors and an order-insensitive digest (row count, sum of row hashes)."""
    rel = f"read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
    src = f"read_parquet('{src}')"
    errors = []
    con = duckdb.connect()
    try:
        leaked = con.sql(
            f"SELECT count(*) FROM {rel} WHERE CAST(l_orderkey AS VARCHAR) IN "
            f"(SELECT CAST(l_orderkey AS VARCHAR) FROM {src})"
        ).fetchone()[0]
        if leaked:
            errors.append(f"{leaked} input l_orderkey values survive")
        bad = con.sql(
            f"SELECT count(*) FROM (SELECT count(*) AS n, "
            f"count(DISTINCT {ANON_SA}) AS d FROM {rel} "
            f"GROUP BY {', '.join(ANON_QIS)}) WHERE n < {ANON_K} OR d < {ANON_L}"
        ).fetchone()[0]
        if bad:
            errors.append(f"{bad} QI classes break k={ANON_K} or l={ANON_L}")
        cols = sorted(con.sql(f"SELECT * FROM {rel}").columns)
        digest = con.sql(
            f"SELECT count(*), sum(hash({', '.join(cols)})) FROM {rel}"
        ).fetchone()
    finally:
        con.close()
    return errors, list(digest)


class AnonRelease:
    """The release route over seeded lineitem replicas, run through
    ``cli.main``; every pass writes a fresh output directory."""

    table = "lineitem"
    ops_per_pass = 1

    def __init__(self):
        self.first_digest = None
        self.written: dict[int, tuple[int, int]] = {}
        self.planning: dict[int, float] = {}

    def prepare(self, work: str, seed: int, threads: int, smoke: bool) -> None:
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "data")
        base = testdata("sf0.001" if smoke else ANON_BASE_SF)
        rows = in_child("inputs.generate", base=base, out=self.data, seed=seed,
                        tables=[self.table], threads=threads, mult=ANON_REPLICAS,
                        shift_keys=True)
        self.input_rows = rows[self.table]
        self.steps = anon_route(seed, "")["steps"]

    def out_path(self, i: int) -> str:
        return os.path.join(self.work, "out", f"pass{i}")

    def run_pass(self, spark, tracer, i: int) -> dict[str, float]:
        """One route run; returns its wall time as the pass's one operation."""
        from ma_anonymization_etl_spark import cli

        route_file = os.path.join(self.work, f"route{i}.json")
        with open(route_file, "w") as f:
            json.dump(anon_route(self.seed, self.out_path(i)), f)
        argv = ["--route", route_file, "--sf-dir", self.data]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()), tracer.span("cli.main"):
            rc = cli.main(argv, spark=spark)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli.main exited {rc}")
        return {"route": wall}

    def check_pass(self, i: int) -> list[str]:
        """No input key survives, every QI class has >= k rows and >= l
        distinct SA values, and the digest equals pass 0's."""
        out = self.out_path(i)
        files = [os.path.join(d, f) for d, _, fs in os.walk(out)
                 for f in fs if f.endswith(".parquet")]
        self.written[i] = (len(files), sum(os.path.getsize(f) for f in files))
        errors, digest = [], [0, None]
        if files:
            errors, digest = in_child("workloads.release_check", out=out,
                                      src=os.path.join(self.data, f"{self.table}.parquet"))
        shutil.rmtree(out, ignore_errors=True)
        if self.first_digest is None:
            self.first_digest = digest
        elif digest != self.first_digest:
            errors.append(f"digest {digest} != pass 0 digest {self.first_digest}")
        return errors

    def check_run(self, spark) -> list[str]:
        return []


# One query per registering module of bench.HEADLINE (two for llm): the
# MinHash dedup operator of route_dedup_stack.json and ROADMAP's j54c
# target among them.  Kept to about 4 s a warm pass and 15 s cold at
# sf0.01 on 4 cores, so that a run with its cold pass, set-up samples
# and oracle check stays within a minute.
HEADLINE_SLICE = (
    "d1_agg_hash_pricing_summary",
    "e5_win_running",
    "k3_win_session_batch",
    "i17_k_enforce_suppress",
    "j3_dedup_near_minhash",
    "j21_sim_topk_vectorized",
    "p8_kcore",
    "j54c_bm25f_topk",
)


class Headline:
    """``HEADLINE_SLICE`` in ``bench.HEADLINE`` order; each query is built
    with ``registry.load_all()[name].fn`` and materialized with the noop
    sink, as ``bench.py`` does.  Read-only."""

    steps: list = []  # no route steps to wrap or probe

    def __init__(self):
        self.planning: dict[int, float] = {}
        self.written: dict[int, tuple[int, int]] = {}

    def prepare(self, work: str, seed: int, threads: int, smoke: bool) -> None:
        import bench

        missing = [n for n in HEADLINE_SLICE if n not in bench.HEADLINE]
        if missing:
            raise ValueError(f"not in bench.HEADLINE: {missing}")
        self.names = [n for n in bench.HEADLINE if n in HEADLINE_SLICE]
        self.ops_per_pass = len(self.names)
        self.data = os.path.join(work, "data")
        base = testdata("sf0.001" if smoke else "sf0.01")
        rows = in_child("inputs.generate", base=base, out=self.data, seed=seed,
                        tables=list(inputs.TABLES), threads=threads)
        self.input_rows = sum(rows.values())

    def module_of(self, name: str) -> str:
        from ma_anonymization_etl_spark import registry

        return registry.load_all()[name].fn.__module__.rsplit(".", 1)[1]

    def run_pass(self, spark, tracer, i: int) -> dict[str, float]:
        """Every query once; returns each query's build + action time."""
        import bench
        from ma_anonymization_etl_spark import registry

        from perfbench.tracing import planning_ms

        queries = registry.load_all()
        walls, plan = {}, 0.0
        for name in self.names:
            t0 = time.perf_counter()
            with tracer.span(f"q.{name}.build"):
                df = queries[name].fn(spark, self.data)
            with tracer.span(f"q.{name}.action"):
                bench.materialize(df)
            walls[name] = time.perf_counter() - t0
            if tracer.enabled:  # outside the pass time: it re-plans the query
                plan += planning_ms(df)
        self.planning[i] = plan
        return walls

    def check_pass(self, i: int) -> list[str]:
        return []

    def check_run(self, spark) -> list[str]:
        """Every query's collected result equals its DuckDB oracle over the
        same generated directory, by the repo's canonical row comparison."""
        from ma_anonymization_etl_spark import registry
        from tests.conftest import canon_rows

        queries = registry.load_all()
        con = duckdb.connect()
        errors = []
        try:
            for t in inputs.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            for name in self.names:
                q = queries[name]
                sdf = q.fn(spark, self.data)
                s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
                rel = con.sql(q.oracle)
                d_cols, d_rows = list(rel.columns), rel.fetchall()
                if (sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows)
                        or canon_rows(s_cols, s_rows) != canon_rows(d_cols, d_rows)):
                    errors.append(f"{name}: result differs from the DuckDB oracle "
                                  f"({len(s_rows)} vs {len(d_rows)} rows)")
        finally:
            con.close()
        return errors


WORKLOADS = {
    "anon_release_sf0.05": AnonRelease,
    "headline_sf0.01": Headline,
}


def make(name: str):
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; known: {sorted(WORKLOADS)}")
    return WORKLOADS[name]()
