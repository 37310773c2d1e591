"""The three workloads: closed loop, one client, inputs generated from the seed.

Each workload generates its inputs from the seed (``prepare``), names the
warm-up action the set-up time includes (``warmup``), runs one pass of
timed calls into the program (``run_pass``) and checks results outside the
timed region (``check_outcome`` per call, ``final_check`` once per run).
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from harness import Outcome, Recorder, RunEnv

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    """The program's query registry and DuckDB oracles
    (``__spark_entry__.queries()`` / ``oracle_sql()``). The program's package
    is imported first and sys.path is restored after, so the registry's own
    path setup cannot redirect imports away from this checkout."""
    saved = list(sys.path)
    try:
        import sales_data_etl_pipeline_spark  # noqa: F401
        import __spark_entry__ as entry
    finally:
        sys.path[:] = saved
    return entry


@functools.cache
def _canon_pandas():
    """``canon_pandas`` of the repository's correctness gate
    (``tools/check_correctness.py``): columns sorted by name, rows sorted,
    every cell as its string."""
    _entry()
    saved = list(sys.path)
    try:
        path = os.path.join(ROOT, "tools", "check_correctness.py")
        spec = importlib.util.spec_from_file_location("check_correctness", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon_pandas


#: Largest difference allowed in a float cell when the canonical cells
#: differ. The correctness gate has no such allowance: it fails any result
#: whose canonical cells differ. The engines sum doubles in different
#: orders, so a money sum that lands on a .xx5 tie can round to the
#: other cent; a result that passes only this way is named on the
#: ``oracle:`` line.
CENT = 0.01


def match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``"exact"`` when the canonical cells of the two results are equal,
    ``"cent"`` when they differ only in float cells, by at most CENT each,
    else None."""
    canon = _canon_pandas()
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return None
    if canon(got) == canon(want):
        return "exact"
    floats = [c for c in cols if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats]
    if not floats or canon(got[keys]) != canon(want[keys]):
        return None
    g = got.sort_values(keys + floats, ignore_index=True)
    w = want.sort_values(keys + floats, ignore_index=True)
    for c in floats:
        a, b = g[c].to_numpy(dtype=float), w[c].to_numpy(dtype=float)
        # rtol: two decimals a cent apart differ by more than 0.01 as doubles
        if not np.isclose(a, b, rtol=1e-12, atol=CENT, equal_nan=True).all():
            return None
    return "cent"


def _to_pandas(df):
    return df.toPandas()


class Workload:
    name = ""
    #: Per-call latencies feed op_p50_s (and the printed op_p90_s), except
    #: where the whole pass is the user's operation (etl_pipeline).
    pass_is_op = False

    def __init__(self, env: RunEnv, seed: int) -> None:
        self.env = env
        self.seed = seed

    def prepare(self) -> dict:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, rec: Recorder, spark, pass_no: int) -> list[Outcome]:
        raise NotImplementedError

    def check_outcome(self, out: Outcome) -> bool:
        return out.error is None

    def final_check(self, spark, outcomes: list[Outcome]) -> set[str]:
        """Checks run once per run; returns the ids of calls that failed."""
        return set()

    def after_pass(self, pass_no: int) -> None:
        """Clean up a pass's outputs once it is checked."""

    def start_oracles(self) -> None:
        """Start computing expected results off the timed path."""

    def join_oracles(self) -> None:
        """Wait for ``start_oracles``."""

    def trace_hooks(self, rec: Recorder) -> list:
        """Install timers for a traced run; returns their undo functions."""
        return []

    @property
    def csv_bytes(self) -> int:
        return 0


# ---------------------------------------------------------------------------
# etl_pipeline
# ---------------------------------------------------------------------------


class EtlPipeline(Workload):
    """The paper's job: dirty CSVs → cleaning → Parquet sinks → 5-query PDF
    report. ``run_pipeline`` writes the sinks; ``save_report`` runs the
    five ``plans.analytics`` results and renders the PDF."""

    name = "etl_pipeline"
    pass_is_op = True
    N_VENDAS = 40_000
    #: Pins the reference's "today" stage of the date cascade.
    FALLBACK_DATE = "2024-12-31"

    def prepare(self) -> dict:
        self.exp = gen.write_dirty_csvs(self.env.path("csv"), self.seed, n_vendas=self.N_VENDAS)
        self.last_dfs = None
        return {
            "csv_bytes": self.exp["bytes"],
            "raw_rows": {t: self.exp[t]["raw_rows"] for t in ("produtos", "vendas", "empregados")},
        }

    @property
    def csv_bytes(self) -> int:
        return sum(self.exp["bytes"].values())

    def warmup(self, spark) -> None:
        from sales_data_etl_pipeline_spark import schemas
        from sales_data_etl_pipeline_spark.sources.csv import read_csv

        read_csv(spark, self.exp["paths"]["vendas"], schemas.VENDAS_RAW).count()

    def run_pass(self, rec: Recorder, spark, pass_no: int) -> list[Outcome]:
        from sales_data_etl_pipeline_spark import report
        from sales_data_etl_pipeline_spark.plans import analytics, pipeline

        out_dir = self.env.path("out", f"pass{pass_no}")
        p = self.exp["paths"]
        outs = [rec.run(
            "run_pipeline", "plans.pipeline", pass_no,
            lambda: pipeline.run_pipeline(
                spark, p["produtos"], p["vendas"], p["empregados"], out_dir,
                fallback_date=self.FALLBACK_DATE,
            ),
        )]
        dfs = outs[0].result
        if dfs is None:
            return outs
        self.last_dfs = dfs
        v, e, pr = dfs["vendas"], dfs["empregados"], dfs["produtos"]
        builders = {
            "sales_by_employee": lambda: analytics.sales_by_employee(v, e),
            "average_ticket_by_product": lambda: analytics.average_ticket_by_product(v, pr),
            "sales_by_category": lambda: analytics.sales_by_category(v, pr),
            "top5_employees": lambda: analytics.top5_employees(v, e),
            "sales_by_period": lambda: analytics.sales_by_period(v),
        }
        results = {}
        for name, build in builders.items():
            o = rec.run(name, "plans.analytics", pass_no, build)
            outs.append(o)
            results[name] = o.result
        if any(r is None for r in results.values()):
            return outs
        outs.append(rec.run(
            "save_report", "report", pass_no,
            lambda: report.save_report(results, os.path.join(out_dir, "relatorio-final")),
        ))
        return outs

    def check_outcome(self, out: Outcome) -> bool:
        if out.error is not None:
            return False
        if out.call.name == "save_report":
            with open(out.result, "rb") as fh:
                return fh.read(5) == b"%PDF-"
        if out.call.name != "run_pipeline":
            return True
        return self._check_sinks(self.env.path("out", f"pass{out.call.pass_no}"))

    def _check_sinks(self, out_dir: str) -> bool:
        """FIXTURES.md §4 invariants on the Parquet sinks."""
        exp = self.exp
        prod = pq.read_table(os.path.join(out_dir, "produtos.parquet")).to_pandas()
        emp = pq.read_table(os.path.join(out_dir, "empregados.parquet")).to_pandas()
        ven = pq.read_table(os.path.join(out_dir, "resumo-vendas.parquet")).to_pandas()
        ok = (
            # zero row loss beyond duplicates
            len(prod) == exp["produtos"]["raw_rows"] - exp["produtos"]["dups"]
            and len(emp) == exp["empregados"]["raw_rows"] - exp["empregados"]["dups"]
            and len(ven) == exp["vendas"]["raw_rows"] - exp["vendas"]["dups"]
            and ven["id_venda"].is_unique
            # every blank imputed
            and not prod["preco"].isna().any()
            and not ven[["data", "valor_unitario", "valor_total"]].isna().any().any()
            and not emp["idade"].isna().any()
            # ages clamped
            and emp["idade"].between(18, 70).all()
        )
        if not ok:
            return False
        # valor_total = round(quantidade × valor_unitario, 2) where it was blank
        blank = ven[ven["id_venda"].isin(exp["vendas"]["blank_unit_ids"])]
        diff = (blank["valor_total"] - blank["quantidade"] * blank["valor_unitario"]).abs()
        return len(blank) == exp["vendas"]["blank_unit"] and bool((diff <= 0.005 + 1e-9).all())

    def final_check(self, spark, outcomes: list[Outcome]) -> set[str]:
        """Imputation-flag counts equal the generator's blank counts
        (the flags are audit columns the sinks drop, so they are counted on
        the last pass's cleaned DataFrames)."""
        from pyspark.sql import functions as F

        if self.last_dfs is None:
            return set()
        v, e = self.last_dfs["vendas"], self.last_dfs["empregados"]
        sc = spark.sparkContext
        sc.setJobGroup("check", "flag counts")
        try:
            n_date = v.filter(F.col("data_imputada")).count()
            row = e.agg(
                F.sum(F.col("idade_imputada").cast("int")).alias("imp"),
                F.sum(F.col("idade_ajustada").cast("int")).alias("adj"),
            ).first()
        finally:
            sc._jsc.clearJobGroup()
        exp = self.exp
        ok = (
            n_date == exp["vendas"]["blank_data"]
            and row["imp"] == exp["empregados"]["blank_idade"]
            and row["adj"] == exp["empregados"]["out_of_range_idade"]
        )
        if ok:
            return set()
        last = [o for o in outcomes if o.call.name == "run_pipeline"][-1]
        return {last.call.id}

    def after_pass(self, pass_no: int) -> None:
        shutil.rmtree(self.env.path("out", f"pass{pass_no}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# Oracle-checked registry workloads
# ---------------------------------------------------------------------------


class _OnceCache:
    """Results by name, each computed once even when several threads ask
    for it at the same time."""

    def __init__(self) -> None:
        self._values: dict = {}
        self._locks: dict[str, threading.Lock] = {}
        self._guard = threading.Lock()

    def get(self, name: str, compute):
        with self._guard:
            lock = self._locks.setdefault(name, threading.Lock())
        with lock:
            if name not in self._values:
                self._values[name] = compute()
            return self._values[name]


class _OracleWorkload(Workload):
    """Calls ``__spark_entry__.queries()`` entries over generated tables;
    each result is compared (``match``) with the call's first result and
    that one with its DuckDB oracle.

    Calls run in a fixed order and the seed changes the data: the first
    calls of a fresh JVM carry its warm-up cost, and a seeded order moved
    that cost between calls of very different latency from run to run."""

    calls: tuple[tuple[str, str], ...] = ()  # (registry name, layer)

    def __init__(self, env: RunEnv, seed: int) -> None:
        super().__init__(env, seed)
        #: Each call's first result.
        self.first: dict[str, pd.DataFrame] = {}
        self.loose: set[str] = set()

    def trace_hooks(self, rec: Recorder) -> list:
        """Time the catalog loader, ``sources.tables.load_testdata``, where
        the registry's modules call it."""
        from sales_data_etl_pipeline_spark.plans import analytics, llm_demo
        from sales_data_etl_pipeline_spark.sources import tables

        return [rec.time_function(m, "load_testdata") for m in (tables, analytics, llm_demo)]

    def warmup_table(self) -> str:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        from sales_data_etl_pipeline_spark.sources.tables import load_testdata

        t = self.warmup_table()
        load_testdata(spark, self.data_dir, (t,))[t].count()

    def run_pass(self, rec: Recorder, spark, pass_no: int) -> list[Outcome]:
        qs = _entry().queries()
        outs = []
        for name, layer in self.calls:
            fn = qs[name]
            outs.append(rec.run(
                name, layer, pass_no, lambda fn=fn: fn(spark, self.data_dir), _to_pandas
            ))
        return outs

    def check_outcome(self, out: Outcome) -> bool:
        """Every result must equal the call's first result; the first is
        compared with its oracle by ``final_check``."""
        if out.error is not None:
            return False
        pdf, out.result = out.result, None
        name = out.call.name
        if name not in self.first:
            self.first[name] = pdf
            return True
        how = match(pdf, self.first[name])
        if how == "cent":
            self.loose.add(name)
        return how is not None

    def start_oracles(self) -> None:
        """Run the DuckDB oracles on a background thread, over the same
        files, during the first set-up."""
        self.oracles = _entry().oracle_sql()
        _canon_pandas()  # import on this thread, not beside the oracles
        self.oracle_results: dict[str, pd.DataFrame | None] = {}
        self._oracle_error: BaseException | None = None
        self._oracle_thread = threading.Thread(target=self._run_oracles, daemon=True)
        self._oracle_thread.start()

    #: DuckDB cursors working through the oracles at once. The corpus's
    #: MinHash oracles each keep about two of four cores busy.
    ORACLE_CURSORS = 2

    def _run_oracles(self) -> None:
        try:
            con = duckdb.connect(config={"threads": self.env.cpus})
            try:
                for f in sorted(os.listdir(self.data_dir)):
                    if f.endswith(".parquet"):
                        path = os.path.join(self.data_dir, f)
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
                cache = _OnceCache()

                def one(name: str):
                    cur = con.cursor()
                    try:
                        return self.expected(name, cur, self.oracles, cache)
                    finally:
                        cur.close()

                names = [name for name, _ in self.calls]
                with ThreadPoolExecutor(self.ORACLE_CURSORS) as pool:
                    self.oracle_results.update(zip(names, pool.map(one, names)))
            finally:
                con.close()
        except Exception as e:  # re-raised on the main thread by join_oracles
            self._oracle_error = e

    def join_oracles(self) -> None:
        self._oracle_thread.join()
        if self._oracle_error is not None:
            raise self._oracle_error

    def final_check(self, spark, outcomes: list[Outcome]) -> set[str]:
        """Compare each call's first result with its DuckDB oracle (see
        ``match``); a call without an oracle fails."""
        bad_names = set()
        for name, pdf in self.first.items():
            want = self.oracle_results.get(name)
            how = None if want is None else match(pdf, want)
            if how == "cent":
                self.loose.add(name)
            elif how is None:
                bad_names.add(name)
                print(f"FAILED {name}: result differs from its DuckDB oracle", file=sys.stderr)
        print(f"oracle: {len(self.first) - len(bad_names)} of {len(self.first)} match, "
              f"{len(self.loose)} only within {CENT} in float cells {sorted(self.loose)}")
        return {o.call.id for o in outcomes if o.call.name in bad_names}

    def expected(self, name: str, con, oracles: dict, cache: _OnceCache):
        """The oracle's result for ``name`` (None when it has no oracle)."""
        sql = oracles.get(name)
        return cache.get(name, lambda: con.execute(sql).fetchdf() if sql is not None else None)


class StarQueries(_OracleWorkload):
    """The reference-5 analytics plus the 22 TPC-H analogs of
    ``plans.analytics`` over a generated sf0.1 star schema, read through
    ``sources.tables`` — read-only, fixed cost per query and per job.

    All 27 run in every pass: with only 11 of them, cold latencies fell in
    two clusters with the median between them, and ``op_p50_s`` jumped
    from one cluster to the other between runs."""

    name = "star_queries"
    SF = 0.1
    REFERENCE_5 = (
        "sales_by_employee", "average_ticket_by_product", "sales_by_category",
        "top5_employees", "sales_by_period",
    )

    def prepare(self) -> dict:
        self.data_dir = self.env.path("star")
        rows = gen.write_star_tables(self.data_dir, self.seed, sf=self.SF)
        qs = _entry().queries()
        by_no = {int(n[1:].split("_")[0]): n for n in qs
                 if n[0] == "q" and n[1:].split("_")[0].isdigit()}
        tpch = [by_no[k] for k in sorted(by_no)]
        self.calls = tuple((n, "plans.analytics") for n in (*self.REFERENCE_5, *tpch))
        return {"sf": self.SF, "rows": rows, "queries": len(self.calls)}

    def warmup_table(self) -> str:
        return "lineitem"


class CorpusOps(_OracleWorkload):
    """LLM-data operators on a generated corpus with a stated near-duplicate
    share: MinHash/SimHash dedup, incremental dedup against a bucketed base
    table, the corpus prep pipeline, text stats, IVF / IVF-PQ top-k, one
    graph loop (connected components) and micro-batch streaming dedup."""

    name = "corpus_ops"
    #: sf0.1 has 5,000 documents; the DuckDB oracles of MinHash, incremental
    #: dedup and the prep pipeline grow with the count (~8 s each at 2,000)
    #: and must fit beside the JVM's launch.
    N_DOCS = 1_000
    N_VECTORS = 1_000
    NEAR_DUP_SHARE = 0.10
    calls = (
        ("dedup_minhash_lsh", "operators.dedup"),
        ("dedup_simhash", "operators.dedup"),
        ("dedup_incremental_prepared", "operators.dedup"),
        ("dedup_clusters", "operators.dedup"),
        ("corpus_prep_pipeline", "operators.corpus"),
        ("text_token_stats", "operators.text"),
        ("similarity_topk_ivf", "operators.similarity"),
        ("similarity_topk_ivfpq", "operators.similarity"),
        ("streaming_dedup_minhash", "streaming.events"),
    )

    def prepare(self) -> dict:
        self.data_dir = self.env.path("corpus")
        info = gen.write_corpus(
            self.data_dir, self.seed, n_docs=self.N_DOCS, n_vectors=self.N_VECTORS,
            near_dup_share=self.NEAR_DUP_SHARE,
        )
        return {**info, "near_dup_share": self.NEAR_DUP_SHARE}

    def warmup_table(self) -> str:
        return "documents"

    def expected(self, name: str, con, oracles: dict, cache: _OnceCache):
        """``dedup_clusters``'s oracle is a recursive-CTE transitive closure
        over the MinHash oracle's pairs (~19 s on DuckDB at this size); the
        same components come from a union-find over those pairs."""
        if name != "dedup_clusters":
            return super().expected(name, con, oracles, cache)
        pairs = super().expected("dedup_minhash_lsh", con, oracles, cache)
        return connected_components(pairs["id_a"].tolist(), pairs["id_b"].tolist())


def connected_components(id_a: list[int], id_b: list[int]) -> pd.DataFrame:
    """(doc_id, component = min doc_id reachable) for every node of the
    pair graph, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(id_a, id_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame(
        {"doc_id": np.array(nodes, dtype=np.int64),
         "component": np.array([find(n) for n in nodes], dtype=np.int64)}
    )


WORKLOADS = {w.name: w for w in (EtlPipeline, StarQueries, CorpusOps)}
