"""The three workloads: what each generates, sets up, runs and checks.

Each workload is a list of ops run in rounds by one closed-loop client
(the runner, ``run.py``). An op is a function of the op record; it times
its calls into the program through ``Runner.phase`` and returns a check
that the runner calls untimed. A check raises ``Mismatch`` when the
program's output is wrong.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

from . import gen
from .oracle import load_stored, signature, twin_signatures

WARM_SF = 0.001          # warm-up catalog inputs
DASH_SF = 0.05           # dashboard catalog inputs (lineitem ~300k rows)
ITER_SF = 0.01           # iterative catalog inputs (lineitem ~60k rows)
DOCS_SEED = 42           # the documents corpus is fixed: its slowest twin is stored
STAR_ROWS = 20_000       # rows per monthly upload
STAR_BATCHES = 1         # new months per star_load round (then one re-upload)
GOLD_MONTHS = 12         # months in the dashboard's gold fixture
GOLD_ROWS = 2_000        # rows per month in the gold fixture
WARM_ROWS = 300          # rows in the warm-up upload

DASHBOARD_QUERIES = [
    "flagship_star_rollup", "q1_pricing_summary", "q3_shipping_priority",
    "q6_filtered_agg", "q8_market_share", "q13_order_distribution",
    "q18_large_orders", "g1_rollup", "g2_cube", "g4_grouping_sets",
    "a3_grouped_rollup", "j4_star_join", "w2_rank_topn", "t1_topn_sort",
]
GOLD_ROLLUPS = ["gold_month_tipo", "gold_month_drilldown", "gold_year_classificacao",
                "gold_top_categorias"]
ITERATIVE_QUERIES = ["x1_dup_clusters", "gr1_pagerank", "gr2_triangle_count"]
# twins too slow to run every time; their signatures live in twin_hashes.json
STORED_TWINS = {"x1_dup_clusters"}


class Mismatch(AssertionError):
    """The program returned a wrong result."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


def _catalog_op(runner, name: str, data_dir: str, twins: dict[str, dict]):
    fn = runner.queries[name]

    def op(rec):
        df = runner.phase(rec, "build", lambda: fn(runner.spark, data_dir))
        pdf = runner.phase(rec, "exec", df.toPandas)

        def check():
            got, want = signature(pdf), twins[name]
            expect(got == want, f"{name}: {got} != twin {want}")
            rec.counts["rows_out"] = got["rows"]
        return check

    return op


# ------------------------------------------------------------ star load

def _load_op(runner, base: str, csv_path: str, batch: gen.Batch, ledger: gen.Ledger):
    """One upload through the paper's load path: ingest -> run_etl over the
    published warehouse -> write-audit-publish."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans import star

    spark = runner.spark

    def op(rec):
        staging, quarantine = runner.phase(
            rec, "ingest", lambda: star.ingest_lancamentos(spark, csv_path))
        prev = None
        if os.path.exists(base):
            prev = runner.phase(rec, "read_warehouse", lambda: star.read_warehouse(spark, base))
        wh = runner.phase(rec, "run_etl", lambda: star.run_etl(staging, prev))
        runner.phase(rec, "publish", lambda: star.publish_warehouse(wh, base))

        def check():
            before = len(ledger.facts)
            must_insert = ledger.load(batch)
            inserted = star.read_warehouse(spark, base).fato_lancamento.count() - before
            expect(inserted == must_insert, f"inserted {inserted} != {must_insert}")
            n_bad = quarantine.count()
            expect(n_bad == batch.n_invalid, f"quarantined {n_bad} != {batch.n_invalid}")
            rec.counts.update(valid_rows=batch.n_valid, inserted=inserted, quarantined=n_bad)
        return check

    return op


def _check_gold(spark, base: str, ledger: gen.Ledger):
    """The whole published gold layer against the ledger: every table's row
    count and the sum of valor per (ano, mes, tipo)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import read_warehouse

    gold = read_warehouse(spark, base)
    counts = gold.counts()
    expect(counts == ledger.counts(), f"gold counts {counts} != {ledger.counts()}")
    expect(_sums_by_month_tipo(gold) == ledger.sums_by_month_tipo(),
           "per-(ano, mes, tipo) sums differ")
    return gold


def _sums_by_month_tipo(wh) -> dict:
    f = (wh.fato_lancamento.join(wh.dim_tempo, "id_tempo").join(wh.dim_tipo, "id_tipo")
         .groupBy("ano", "mes", "nome_tipo").sum("valor"))
    return {(r[0], r[1], r[2]): r[3] for r in f.collect()}


def _gold_bytes(wh) -> int:
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import GOLD_TABLES

    files = {f for t in GOLD_TABLES for f in getattr(wh, t).inputFiles()}
    return sum(os.path.getsize(f.removeprefix("file:")) for f in files)


class StarLoad:
    """Write-heavy: monthly uploads into a fresh warehouse each round, then a
    re-upload of a month already loaded (which must insert nothing)."""

    name = "star_load"

    def prepare(self, seed: int, tmp: str) -> None:
        self.tmp, self.seed = tmp, seed
        self.warm_csv = os.path.join(tmp, "warm.csv")
        gen.write_batch_csv([gen.make_batch(seed, 2022, 12, WARM_ROWS)], self.warm_csv)
        self.batches, self.csv, self.csv_bytes = [], [], []
        for i, (ano, mes) in enumerate(gen.month_seq(2023, 1, STAR_BATCHES)):
            b = gen.make_batch(seed, ano, mes, STAR_ROWS)
            path = os.path.join(tmp, f"upload_{i}.csv")
            self.csv_bytes.append(gen.write_batch_csv([b], path))
            self.batches.append(b)
            self.csv.append(path)
        self.stored_ratio: list[float] = []

    def twins(self, oracle_sql: dict[str, str], threads: int) -> None:
        """Expected results come from the generator's ledger, not a twin."""

    def setup(self, runner) -> None:
        warm = os.path.join(self.tmp, "warm_gold")
        runner.untimed_op(_load_op(runner, warm, self.warm_csv,
                                   gen.make_batch(self.seed, 2022, 12, WARM_ROWS), gen.Ledger()))

    def round(self, runner, rng: random.Random, k: int) -> list[tuple[str, object]]:
        base = os.path.join(self.tmp, f"gold_{k}")
        ledger = gen.Ledger()
        ops = [("load", _load_op(runner, base, p, b, ledger))
               for p, b in zip(self.csv, self.batches)]
        again = rng.randrange(len(self.batches))
        ops.append(("reupload", _load_op(runner, base, self.csv[again],
                                         self.batches[again], ledger)))

        def check_round():
            gold = _check_gold(runner.spark, base, ledger)
            self.stored_ratio.append(_gold_bytes(gold) / sum(self.csv_bytes))
        runner.after_round(check_round)
        return ops


# ------------------------------------------------------------ dashboard

def _gold_rollup(wh, name: str, month: tuple[int, int]):
    from pyspark.sql import functions as F

    f = wh.fato_lancamento
    if name == "gold_month_tipo":
        return (f.join(wh.dim_tempo, "id_tempo").join(wh.dim_tipo, "id_tipo")
                .groupBy("ano", "mes", "nome_tipo").agg(F.sum("valor").alias("total")))
    if name == "gold_month_drilldown":
        t = wh.dim_tempo.filter((F.col("ano") == month[0]) & (F.col("mes") == month[1]))
        g = wh.dim_grupo.select("id_grupo", "nome_grupo")
        return (f.join(t, "id_tempo").join(wh.dim_categoria.drop("id_grupo"), "id_categoria")
                .join(g, "id_grupo").groupBy("nome_grupo", "nome_categoria")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("valor").alias("total")))
    if name == "gold_year_classificacao":
        return (f.join(wh.dim_tempo, "id_tempo").join(wh.dim_classificacao, "id_classificacao")
                .groupBy("ano", "nome_classificacao").agg(F.sum("valor").alias("total")))
    if name == "gold_top_categorias":
        return (f.join(wh.dim_categoria, "id_categoria").groupBy("nome_categoria")
                .agg(F.sum("valor").alias("total"))
                .orderBy(F.desc("total"), "nome_categoria").limit(10))
    raise ValueError(name)


def _gold_expected(ledger: gen.Ledger, name: str, month: tuple[int, int]):
    if name == "gold_month_tipo":
        return ledger.sums_by_month_tipo()
    if name == "gold_month_drilldown":
        return ledger.drilldown(*month)
    if name == "gold_year_classificacao":
        return ledger.by_year_classificacao()
    return ledger.top_categorias(10)


def _gold_got(pdf, name: str):
    rows = list(pdf.itertuples(index=False))
    if name == "gold_month_tipo":
        return {(int(r.ano), int(r.mes), r.nome_tipo): r.total for r in rows}
    if name == "gold_month_drilldown":
        return {(r.nome_grupo, r.nome_categoria): (int(r.n), r.total) for r in rows}
    if name == "gold_year_classificacao":
        return {(int(r.ano), r.nome_classificacao): r.total for r in rows}
    return [(r.nome_categoria, r.total) for r in rows]


def _gold_op(runner, base: str, ledger: gen.Ledger, name: str, month: tuple[int, int]):
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import read_warehouse

    def op(rec):
        wh = runner.phase(rec, "read_warehouse", lambda: read_warehouse(runner.spark, base))
        df = runner.phase(rec, "build", lambda: _gold_rollup(wh, name, month))
        pdf = runner.phase(rec, "exec", df.toPandas)

        def check():
            expect(_gold_got(pdf, name) == _gold_expected(ledger, name, month),
                   f"{name}: result differs from the generated ledger")
            rec.counts["rows_out"] = len(pdf)
        return check

    return op


def _ledger_warehouse(spark, ledger: gen.Ledger):
    """The gold tables a load of the ledger's uploads must produce."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import Warehouse

    ids = {}
    for kind, keys in (
        ("tipo", {v[0] for v in ledger.facts.values()}),
        ("grupo", {v[:2] for v in ledger.facts.values()}),
        ("categoria", {v[:3] for v in ledger.facts.values()}),
        ("classificacao", {v[3] for v in ledger.facts.values()}),
        ("tempo", {ledger.fact_month(k) for k in ledger.facts}),
    ):
        ids[kind] = {key: i + 1 for i, key in enumerate(sorted(keys))}
    tempo = []
    for (ano, mes), i in ids["tempo"].items():
        first = dt.date(ano, mes, 1)
        last = gen.month_seq(ano, mes, 2)[1]
        tempo.append((i, ano, mes, first.isocalendar()[1], first,
                      dt.date(*last, 1) - dt.timedelta(days=1)))
    facts = [
        (ids["tipo"][v[0]], ids["grupo"][v[:2]], ids["categoria"][v[:3]],
         ids["tempo"][ledger.fact_month(k)], ids["classificacao"][v[3]], v[5], v[4],
         hashlib.md5("-".join(k).encode()).hexdigest())
        for k, v in ledger.facts.items()
    ]
    wh = Warehouse()
    wh.dim_tempo = spark.createDataFrame(
        tempo, "id_tempo int, ano int, mes int, semana int, data_inicio date, data_fim date")
    wh.dim_tipo = spark.createDataFrame(
        [(i, k) for k, i in ids["tipo"].items()], "id_tipo int, nome_tipo string")
    wh.dim_grupo = spark.createDataFrame(
        [(i, ids["tipo"][k[0]], k[1]) for k, i in ids["grupo"].items()],
        "id_grupo int, id_tipo int, nome_grupo string")
    wh.dim_categoria = spark.createDataFrame(
        [(i, ids["grupo"][k[:2]], k[2]) for k, i in ids["categoria"].items()],
        "id_categoria int, id_grupo int, nome_categoria string")
    wh.dim_classificacao = spark.createDataFrame(
        [(i, k) for k, i in ids["classificacao"].items()],
        "id_classificacao int, nome_classificacao string")
    wh.fato_lancamento = spark.createDataFrame(
        facts, "id_tipo int, id_grupo int, id_categoria int, id_tempo int, "
        "id_classificacao int, descricao string, valor decimal(15,2), id_hash string")
    return wh


def _publish_op(runner, base: str, ledger: gen.Ledger):
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import publish_warehouse

    def op(rec):
        wh = _ledger_warehouse(runner.spark, ledger)
        runner.phase(rec, "publish", lambda: publish_warehouse(wh, base))
    return op


class Dashboard:
    """Read-heavy: a shuffled sequence of short rollups over the catalog
    tables and over a gold layer published by the load path in set-up."""

    name = "dashboard"

    def prepare(self, seed: int, tmp: str) -> None:
        self.tmp = tmp
        self.warm_dir = os.path.join(tmp, "warm")
        self.data_dir = os.path.join(tmp, "dash")
        gen.write_tables(gen.catalog_tables(seed, WARM_SF), self.warm_dir)
        gen.write_tables(gen.catalog_tables(seed, DASH_SF), self.data_dir)
        self.gold_batches = [gen.make_batch(seed, a, m, GOLD_ROWS)
                             for a, m in gen.month_seq(2022, 1, GOLD_MONTHS)]

    def twins(self, oracle_sql: dict[str, str], threads: int) -> None:
        sql = {q: oracle_sql[q] for q in DASHBOARD_QUERIES}
        self.warm_twins = twin_signatures(self.warm_dir, sql, threads)
        self.data_twins = twin_signatures(self.data_dir, sql, threads)

    def setup(self, runner) -> None:
        # the gold fixture the dashboard reads, published by the load path's
        # write-audit-publish step from the generator's own ledger
        self.gold = os.path.join(self.tmp, "gold")
        self.ledger = gen.Ledger()
        for b in self.gold_batches:
            self.ledger.load(b)
        runner.untimed_op(_publish_op(runner, self.gold, self.ledger), fixture=True)
        for q in DASHBOARD_QUERIES:
            runner.untimed_op(_catalog_op(runner, q, self.warm_dir, self.warm_twins))
        for g in GOLD_ROLLUPS:
            runner.untimed_op(_gold_op(runner, self.gold, self.ledger, g, (2022, 1)))

    def round(self, runner, rng: random.Random, k: int) -> list[tuple[str, object]]:
        month = rng.choice(sorted(self.ledger.months))
        ops = [(q, _catalog_op(runner, q, self.data_dir, self.data_twins))
               for q in DASHBOARD_QUERIES]
        ops += [(g, _gold_op(runner, self.gold, self.ledger, g, month)) for g in GOLD_ROLLUPS]
        rng.shuffle(ops)
        return ops


# ------------------------------------------------------------ iterative

class Iterative:
    """Catalog queries that launch dozens of eager jobs while their plan is
    built (closure rounds, checkpointed PageRank, triangle counting)."""

    name = "iterative"

    def prepare(self, seed: int, tmp: str) -> None:
        self.warm_dir = os.path.join(tmp, "warm")
        self.data_dir = os.path.join(tmp, "iter")
        for d, sf in ((self.warm_dir, WARM_SF), (self.data_dir, ITER_SF)):
            t = gen.catalog_tables(seed, sf)
            gen.write_tables({"lineitem": t["lineitem"]}, d)
        gen.write_tables({"documents": gen.documents_table(DOCS_SEED)}, self.data_dir)
        gen.write_tables({"documents": gen.documents_table(DOCS_SEED, n_docs=60)}, self.warm_dir)

    def twins(self, oracle_sql: dict[str, str], threads: int) -> None:
        live = {q: oracle_sql[q] for q in ITERATIVE_QUERIES if q not in STORED_TWINS}
        self.warm_twins = twin_signatures(
            self.warm_dir, {q: oracle_sql[q] for q in ITERATIVE_QUERIES}, threads)
        stored = load_stored()
        self.data_twins = twin_signatures(self.data_dir, live, threads)
        self.data_twins.update({q: stored[q] for q in STORED_TWINS})

    def setup(self, runner) -> None:
        for q in ITERATIVE_QUERIES:
            runner.untimed_op(_catalog_op(runner, q, self.warm_dir, self.warm_twins))

    def round(self, runner, rng: random.Random, k: int) -> list[tuple[str, object]]:
        # a fixed order, so no latency depends on which query ran first;
        # x1 runs twice, so the round's median op is the mean of two runs
        # of one query rather than a single sample
        return [(q, _catalog_op(runner, q, self.data_dir, self.data_twins))
                for q in ITERATIVE_QUERIES + ITERATIVE_QUERIES[:1]]


WORKLOADS = {w.name: w for w in (StarLoad, Dashboard, Iterative)}
