"""The benchmark's workloads: the operations they time and the checks
that run on the results afterwards, outside the timed region.

An operation is either query-shaped (``build`` returns a DataFrame; the
timed region is build + plan + collect) or a plain ``action`` (an
ingest). Every operation is timed the same way whether or not tracing
is on; a traced execution also splits a query into its build, Catalyst
and execution spans.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    name: str
    build: Callable | None = None  # -> DataFrame
    action: Callable | None = None  # -> any result
    check: Callable | None = None  # (result) -> None, raises on a wrong result

    def run(self):
        if self.build is None:
            return self.action()
        df = self.build()
        return list(df.columns), [tuple(r) for r in df.collect()]

    def run_traced(self, tracer: tr.Tracer):
        with tracer.span(self.name, "op") as op_rec:
            if self.build is None:
                return self.action()
            with tracer.span("plans.build"):
                df = self.build()
            with tracer.span("catalyst.plan") as plan_rec:
                plan = df._jdf.queryExecution().executedPlan()
            with tracer.span("exec") as exec_rec:
                rows = [tuple(r) for r in df.collect()]
        plan_rec["plan"] = dict(tr.plan_stats(plan))
        exec_rec["result_rows"] = len(rows)
        exec_rec["stages"] = dict(tr.stage_stats(tracer.sc, exec_rec["jobs"]))
        op_rec["persisted_after"] = tracer.sc._jsc.getPersistentRDDs().size()
        return list(df.columns), rows


def settle(spark) -> None:
    """Between operations, outside the timed region: drop the cached data
    and temp views an entry left behind, so the next operation starts
    from the same catalog. Garbage collection is left to the JVM; its
    pauses land on whichever timed operation they interrupt."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


class CheckFailed(Exception):
    pass


def _canon_equal(got, want) -> None:
    from tests.oracle_harness import _canon

    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols):
        raise CheckFailed(f"columns {sorted(g_cols)} != {sorted(w_cols)}")
    if len(g_rows) != len(w_rows) or _canon(g_rows, g_cols) != _canon(w_rows, w_cols):
        raise CheckFailed(f"rows differ ({len(g_rows)} vs {len(w_rows)} rows)")


# ---------------------------------------------------------------------------
# Declared entries (pipeline_heavy)
# ---------------------------------------------------------------------------


class EntryWorkload:
    """Declared ``@q`` entries over the committed testdata, each result
    compared with the entry's DuckDB ``ORACLE`` SQL on the same tables."""

    imports = ("data_engineer_task_spark.plans.analytics",)
    shuffled = True

    def __init__(self, settings: dict, name: str, run_dir: str, seed: int):
        from data_engineer_task_spark.plans.analytics import ORACLE, QUERIES

        cfg = settings["workloads"][name]
        self.sf_dir = os.path.join(os.path.dirname(HERE), cfg["data_dir"])
        self.entries = list(cfg["entries"])
        self.queries, self.oracle = QUERIES, ORACLE
        self._expected: dict[str, tuple] = {}
        self._duck = None

    def prepare(self, spark) -> None:
        self.spark = spark

    def ops(self, pass_no) -> list[Op]:
        return [self._op(name) for name in self.entries]

    def warm_up_ops(self) -> list[Op]:
        return self.ops("warm-up")

    def _op(self, name: str) -> Op:
        fn = self.queries[name]
        return Op(name, build=lambda: fn(self.spark, self.sf_dir),
                  check=lambda got: _canon_equal(got, self._oracle_rows(name)))

    def _oracle_rows(self, name: str):
        if name not in self._expected:
            if self._duck is None:
                from tests.oracle_harness import duck_connection

                self._duck = duck_connection(self.sf_dir)
            res = self._duck.execute(self.oracle[name])
            self._expected[name] = ([d[0] for d in res.description], res.fetchall())
        return self._expected[name]

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# ---------------------------------------------------------------------------
# The paper's Netflix ETL (netflix_etl)
# ---------------------------------------------------------------------------

_NETFLIX_ORACLE = {
    "shows_without_crew": """
        SELECT CAST(count(*) AS BIGINT) AS n_shows_no_crew FROM shows s
        WHERE NOT EXISTS (SELECT 1 FROM movie_crew c WHERE c.show_id = s.show_id)""",
    "shows_without_listings": """
        SELECT CAST(count(*) AS BIGINT) AS n_shows_no_listing FROM shows s
        WHERE NOT EXISTS (SELECT 1 FROM listings l WHERE l.show_id = s.show_id)""",
    "most_common_first_name_{g}": """
        SELECT first_name, CAST(count(*) AS BIGINT) AS n
        FROM personnel p JOIN movie_crew c ON p.id = c.personnel_id
        WHERE gender = '{g}' AND personnel_type = 'cast'
        GROUP BY first_name ORDER BY n DESC NULLS LAST, first_name ASC LIMIT 1""",
    "longest_addition_gap": """
        SELECT title, year(date_added) - release_year AS gap FROM shows
        ORDER BY gap DESC NULLS LAST, title ASC LIMIT 1""",
    "busiest_month": """
        SELECT strftime(date_added, '%B') AS month, CAST(count(*) AS BIGINT) AS n
        FROM shows WHERE date_added IS NOT NULL
        GROUP BY month ORDER BY n DESC NULLS LAST, month ASC LIMIT 1""",
    "best_tv_show_growth_year": """
        WITH y AS (SELECT release_year, CAST(count(*) AS BIGINT) AS n FROM shows
                   WHERE type = 'TV Show' GROUP BY release_year),
             g AS (SELECT release_year, (n - prev) / prev * 100.0 AS growth_pct FROM (
                     SELECT release_year, n,
                            CASE WHEN lag(release_year) OVER (ORDER BY release_year)
                                      = release_year - 1
                                 THEN lag(n) OVER (ORDER BY release_year) END AS prev
                     FROM y))
        SELECT release_year, growth_pct FROM g WHERE growth_pct IS NOT NULL
        ORDER BY growth_pct DESC NULLS LAST, release_year ASC LIMIT 1""",
    "shows_featuring": """
        SELECT DISTINCT c.show_id FROM movie_crew c
        JOIN personnel p ON c.personnel_id = p.id WHERE p.name = '{person}'""",
    "frequent_costars": """
        SELECT p.name, CAST(count(*) AS BIGINT) AS n
        FROM movie_crew c JOIN personnel p ON c.personnel_id = p.id
        WHERE c.show_id IN (SELECT c2.show_id FROM movie_crew c2
                            JOIN personnel p2 ON c2.personnel_id = p2.id
                            WHERE p2.name = '{person}')
          AND p.gender IN ('female', 'unknown') AND p.name <> '{person}'
        GROUP BY p.name HAVING count(*) >= 2
        ORDER BY n DESC NULLS LAST, p.name ASC""",
}
STAR_TABLES = ("shows", "personnel", "movie_crew", "listings")


@dataclass
class _Pass:
    warehouse: str
    pipe: object = None


class NetflixWorkload:
    """Per pass: ``NetflixPipeline.run`` on a fresh warehouse, the
    reference analytics queries over what it wrote, then the same ingest
    again, which the ledger must skip."""

    imports = (
        "data_engineer_task_spark.plans.netflix",
        "data_engineer_task_spark.plans.netflix_queries",
    )
    shuffled = False

    def __init__(self, settings: dict, name: str, run_dir: str, seed: int):
        cfg = settings["workloads"][name]
        self.rows, self.warm_up_rows = cfg["csv_rows"], cfg["warm_up_csv_rows"]
        self.seed = seed
        self.run_dir = run_dir
        self.csv_path = os.path.join(run_dir, "netflix_titles.csv")
        self.warm_up_csv_path = os.path.join(run_dir, "netflix_warm_up.csv")

    def prepare(self, spark) -> None:
        """Generate the timed CSV and the warm-up pass's smaller one."""
        import netflix_gen

        self.spark = spark
        self.expected = netflix_gen.generate(self.csv_path, self.rows, self.seed)
        netflix_gen.generate(self.warm_up_csv_path, self.warm_up_rows, self.seed + 1)
        self.person = netflix_gen.FEATURED

    def warm_up_ops(self) -> list[Op]:
        """A pass over a smaller CSV of its own."""
        return self.ops("warm-up", self.warm_up_csv_path)

    def ops(self, pass_no, csv_path: str | None = None) -> list[Op]:
        from data_engineer_task_spark.plans import netflix_queries as q
        from data_engineer_task_spark.plans.netflix import NetflixPipeline

        csv_path = csv_path or self.csv_path
        p = _Pass(os.path.join(self.run_dir, f"warehouse-{pass_no}"))

        def ingest():
            p.pipe = NetflixPipeline(self.spark, p.warehouse)
            return p.pipe.run(csv_path)

        def t(name):
            return p.pipe.table(name)

        queries = {
            "shows_without_crew": lambda: q.shows_without_crew(t("shows"), t("movie_crew")),
            "shows_without_listings": lambda: q.shows_without_listings(t("shows"), t("listings")),
            **{
                f"most_common_first_name_{g}": (
                    lambda g=g: q.most_common_first_name(t("personnel"), t("movie_crew"), g)
                )
                for g in ("female", "male", "unknown")
            },
            "longest_addition_gap": lambda: q.longest_addition_gap(t("shows")),
            "busiest_month": lambda: q.busiest_month(t("shows")),
            "best_tv_show_growth_year": lambda: q.best_tv_show_growth_year(t("shows")),
            "shows_featuring": lambda: q.shows_featuring(t("personnel"), t("movie_crew"), self.person),
            "frequent_costars": lambda: q.frequent_costars(t("personnel"), t("movie_crew"), self.person),
        }
        ops = [Op("ingest", action=ingest, check=lambda star: self._check_ingest(p, star))]
        for name, build in queries.items():
            ops.append(Op(name, build=build,
                          check=lambda got, name=name: self._check_query(p, name, got)))
        ops.append(Op("ingest_again", action=lambda: p.pipe.run(csv_path),
                      check=self._check_skipped))
        return ops

    def _check_ingest(self, p: _Pass, star) -> None:
        if star is None:
            raise CheckFailed("first ingest of a fresh warehouse was skipped")
        want = {t: getattr(self.expected, t) for t in STAR_TABLES}
        got = {t: p.pipe.table(t).count() for t in STAR_TABLES}
        if got != want:
            raise CheckFailed(f"star-table rows {got} != generated {want}")

    def _check_query(self, p: _Pass, name: str, got) -> None:
        _canon_equal(got, self._oracle_rows(p, name))
        if name == "shows_without_crew" and got[1] != [(self.expected.no_crew_shows,)]:
            raise CheckFailed(f"{got[1]} shows without crew, generated {self.expected.no_crew_shows}")

    @staticmethod
    def _check_skipped(result) -> None:
        if result is not None:
            raise CheckFailed("second ingest of the same path was not a ledger skip")

    def _oracle_rows(self, p: _Pass, name: str):
        import duckdb

        con = duckdb.connect()
        try:
            for t in STAR_TABLES:
                files = sorted(glob.glob(f"{p.warehouse}/{t}/*/*.parquet"))
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
            key = name.rsplit("_", 1)[0] + "_{g}" if name.startswith("most_common") else name
            sql = _NETFLIX_ORACLE[key].format(g=name.rsplit("_", 1)[-1], person=self.person)
            res = con.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()

    def close(self) -> None:
        for d in glob.glob(os.path.join(self.run_dir, "warehouse-*")):
            shutil.rmtree(d, ignore_errors=True)


WORKLOADS = {
    "pipeline_heavy": EntryWorkload,
    "netflix_etl": NetflixWorkload,
}
