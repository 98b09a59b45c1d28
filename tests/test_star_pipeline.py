"""End-to-end star-schema pipeline tests (SURVEY.md §5 items 2-3).

Synthetic lançamentos CSV → bronze (validate/normalize/hash) → gold star
schema → flagship rollup; idempotence (re-loading the same batch grows no
table — the ON CONFLICT property, app/etl.py:51,66,81,98,129)."""

from __future__ import annotations

import textwrap
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
    Warehouse,
    ingest_lancamentos,
    run_etl,
)

CSV = textwrap.dedent(
    """\
    Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor
    "Aluguel, casa",Despesa,Casa,Aluguel,Fixa,01/2024,"1.500,00"
    Mercado,Despesa,Casa,Supermercado,Variável,01/2024,"823,45"
    Salário,Receita,Trabalho,CLT,Fixa,01/2024,"7.000,00"
    Mercado,Despesa,Casa,Supermercado,Variável,02/2024,"911,02"
    Luz,Despesa,Casa,Energia,,02/2024,"210,33"
    Bonus,Receita,Trabalho,CLT,Extra,02/2024,
    Mercado,Despesa,Casa,Supermercado,Variável,01/2024,"823,45"
    ,Despesa,Casa,Aluguel,Fixa,03/2024,"1.500,00"
    Internet,Despesa,Casa,  ,Fixa,03/2024,"99,90"
    """
)
# row 5 = empty Classificação → quarantine (all 7 columns validated)
# row 6 = empty Valor         → quarantine
# row 7 = exact duplicate of row 2 (intra-batch dedup)
# row 8 = empty Descrição     → quarantine
# row 9 = blank Categoria     → quarantine


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("upload") / "lancamentos.csv"
    p.write_text(CSV, encoding="utf-8")
    return str(p)


@pytest.fixture(scope="module")
def staging(spark, csv_path):
    staging, quarantine = ingest_lancamentos(spark, csv_path)
    return staging.cache(), quarantine.cache()


def test_validation_split(staging):
    valid, quarantine = staging
    assert valid.count() == 5  # 9 data rows - 4 invalid
    bad = {tuple(r["null_fields"]) for r in quarantine.collect()}
    assert bad == {
        ("Classificacao",),
        ("Valor",),
        ("Descricao",),
        ("Categoria",),
    }


def test_valor_normalization(staging):
    valid, _ = staging
    vals = {r["Descricao"]: r["Valor"] for r in valid.collect()}
    assert vals["Aluguel, casa"] == Decimal("1500.00")  # quoted comma + BRL
    assert vals["Salário"] == Decimal("7000.00")


def test_star_schema_build(staging):
    valid, _ = staging
    wh = run_etl(valid)
    counts = wh.counts()
    assert counts["dim_tipo"] == 2  # Despesa, Receita
    assert counts["dim_grupo"] == 2  # Casa, Trabalho
    assert counts["dim_categoria"] == 3  # Aluguel, Supermercado, CLT
    assert counts["dim_classificacao"] == 2  # Fixa, Variável
    assert counts["dim_tempo"] == 2  # 01/2024, 02/2024
    # 5 valid rows, 1 intra-batch duplicate → 4 fact rows
    assert counts["fato_lancamento"] == 4


def test_idempotent_reload(staging):
    """Loading the same batch twice grows no table (ON CONFLICT parity)."""
    valid, _ = staging
    wh1 = run_etl(valid)
    c1 = wh1.counts()
    wh2 = run_etl(valid, wh1)
    c2 = wh2.counts()
    assert c1 == c2


def test_incremental_append(spark, staging):
    """A second batch with one new month/categoria extends, not duplicates."""
    valid, _ = staging
    wh1 = run_etl(valid)
    extra = spark.createDataFrame(
        [("Gas", "Despesa", "Casa", "Energia", "Fixa", "04/2024", Decimal("80.00"), "h-new")],
        "Descricao string, Tipo string, Grupo string, Categoria string, "
        "Classificacao string, Data string, Valor decimal(15,2), id_hash string",
    )
    wh2 = run_etl(extra, wh1)
    c1, c2 = wh1.counts(), wh2.counts()
    assert c2["fato_lancamento"] == c1["fato_lancamento"] + 1
    assert c2["dim_tempo"] == c1["dim_tempo"] + 1  # 04/2024 added
    assert c2["dim_categoria"] == c1["dim_categoria"] + 1  # Energia added
    assert c2["dim_grupo"] == c1["dim_grupo"]  # Casa exists
    # surrogate ids stay unique and dense-ish after append
    ids = [r["id_tempo"] for r in wh2.dim_tempo.collect()]
    assert len(ids) == len(set(ids))


def test_flagship_rollup_over_star(staging):
    valid, _ = staging
    wh = run_etl(valid)
    from pyspark.sql import functions as F

    rollup = (
        wh.fato_lancamento.join(wh.dim_tipo, "id_tipo")
        .join(wh.dim_tempo, "id_tempo")
        .groupBy("ano", "mes", "nome_tipo")
        .agg(F.sum("valor").alias("total"))
    )
    got = {
        (r["ano"], r["mes"], r["nome_tipo"]): r["total"] for r in rollup.collect()
    }
    assert got[(2024, 1, "Despesa")] == Decimal("2323.45")
    assert got[(2024, 1, "Receita")] == Decimal("7000.00")
    assert got[(2024, 2, "Despesa")] == Decimal("911.02")


def test_gold_write_partition_pruning(spark, staging, tmp_path):
    """The written fact is partitioned by (ano, mes) and a month-scoped
    query prunes to that partition at the scan."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold")
    version = publish_warehouse(wh, base)

    back = read_warehouse(spark, base)
    assert back.fato_lancamento.count() == wh.fato_lancamento.count()

    fact_disk = spark.read.parquet(f"{base}/_v/{version}/fato_lancamento")
    jan = fact_disk.filter("ano = 2024 AND mes = 1")
    plan = jan._sc._jvm.PythonSQLUtils.explainString(
        jan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(ano" in plan
    # pruned scan reads only the one (ano=2024, mes=1) directory
    assert jan.count() == 3


def test_publish_crash_leaves_readers_on_old_version(spark, staging, tmp_path):
    """Write-audit-publish: a writer that dies after writing files but
    BEFORE claiming its generation must be invisible — readers keep
    resolving the previous complete version; a later successful publish
    supersedes it; a failed audit aborts without touching the chain."""
    import os

    import pytest

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        _resolve_head,
        publish_warehouse,
        read_warehouse,
        run_etl,
        write_warehouse,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold")
    v1 = publish_warehouse(wh, base)
    n1 = read_warehouse(spark, base).fato_lancamento.count()
    assert n1 == wh.fato_lancamento.count()

    # Simulated crash: a second writer lands a (half-)version on disk but
    # never claims its generation. Readers must not see it.
    crashed = str(tmp_path / "gold/_v/crashed-version")
    write_warehouse(wh, crashed)
    os.remove(os.path.join(crashed, "dim_tempo", "_SUCCESS"))
    assert _resolve_head(spark, base) == v1  # chain untouched
    assert read_warehouse(spark, base).fato_lancamento.count() == n1

    # A failed audit must abort WITHOUT moving the chain head.
    import etl_lorettoscarpa_1asfb2jf21_spark.plans.star as star_mod

    real_write = star_mod.write_warehouse

    def half_write(w, path):
        # a writer that silently loses fact rows: audit must catch it
        import copy

        w2 = copy.copy(w)
        w2.fato_lancamento = w.fato_lancamento.limit(1)
        real_write(w2, path)

    star_mod.write_warehouse, star_mod_write = half_write, star_mod.write_warehouse
    try:
        with pytest.raises(RuntimeError, match="audit failed"):
            publish_warehouse(wh, base)
    finally:
        star_mod.write_warehouse = star_mod_write
    assert read_warehouse(spark, base).fato_lancamento.count() == n1

    # A successful publish moves the chain head atomically.
    v2 = publish_warehouse(wh, base)
    assert v2 != v1
    assert _resolve_head(spark, base) == v2
    assert read_warehouse(spark, base).fato_lancamento.count() == n1


# Jobs one load may launch, run_etl and publish_warehouse together: the
# key-resolution collect (+ the existing dims' collects on an incremental
# load), the six writes, the source count run beside them, and the
# read-back count. Surrogate keys computed in the plan run as one-task
# jobs per dim and stage, ~50 per load.
LOAD_PATH_JOBS = 25


def test_load_path_job_budget(spark, staging, tmp_path, jobs_during):
    """A whole load, run_etl then publish_warehouse, fits LOAD_PATH_JOBS,
    fresh and incremental; every job it launches, from the pool threads
    too, carries the caller's job group."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging
    base = str(tmp_path / "gold_jobs")

    def load(prev):
        return publish_warehouse(run_etl(valid, prev), base)

    for prev in (None, "incremental"):
        prev = prev and read_warehouse(spark, base)
        _, launched, grouped = jobs_during(lambda: load(prev))
        assert grouped and launched == grouped
        assert len(launched) <= LOAD_PATH_JOBS, sorted(launched)


def test_publish_persists_nothing(spark, staging, tmp_path, monkeypatch):
    """publish_warehouse keeps no frame: with persist and cache refused, a
    fresh and an incremental publish both succeed, and each read-back
    matches the source counts."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging

    def refuse(*args, **kwargs):
        raise AssertionError("publish_warehouse kept a frame")

    for method in ("persist", "cache"):
        monkeypatch.setattr(type(valid), method, refuse)
    base = str(tmp_path / "gold_unkept")
    prev = None
    for _ in ("fresh", "incremental"):
        wh = run_etl(valid, prev)
        publish_warehouse(wh, base)
        prev = read_warehouse(spark, base)
        assert prev.counts() == wh.counts()


def test_publish_writes_one_file_per_month(spark, staging, tmp_path):
    """The fact is rebalanced on (ano, mes): every month partition of a
    published version is one parquet file, on a first load and on the
    re-upload, whose fact is the read-back history plus the batch."""
    import glob
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging
    base = str(tmp_path / "gold_layout")
    v1 = publish_warehouse(run_etl(valid), base)
    n1 = read_warehouse(spark, base).fato_lancamento.count()
    v2 = publish_warehouse(run_etl(valid, read_warehouse(spark, base)), base)
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    for version in (v1, v2):
        months = glob.glob(
            os.path.join(base, "_v", version, "fato_lancamento", "ano=*", "mes=*")
        )
        files = {m: len(glob.glob(os.path.join(m, "*.parquet"))) for m in months}
        assert len(files) == 2 and set(files.values()) == {1}, files


def test_publish_cas_two_writer_race_and_vacuum(spark, staging, tmp_path):
    """Concurrent-publisher safety: two writers publishing against the
    SAME observed generation — exactly one claims the next slot, the
    loser raises PublishConflictError without becoming visible, and
    readers always resolve a complete version (never a torn state).
    vacuum_versions then retires old generations and loser orphans."""
    import os
    import threading

    import pytest

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        PublishConflictError,
        _claim_generation,
        publish_warehouse,
        read_warehouse,
        run_etl,
        vacuum_versions,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold_cas")
    v1 = publish_warehouse(wh, base)
    n1 = read_warehouse(spark, base).fato_lancamento.count()

    # Both publishers observe generation 1 (v1's slot), then race: the
    # winner claims slot 2, the loser must raise and stay invisible.
    results: dict[str, object] = {}

    def run_pub(tag):
        try:
            results[tag] = publish_warehouse(
                wh, base, version=f"cand-{tag}", expected_generation=1
            )
        except PublishConflictError as e:
            results[tag] = e

    ta = threading.Thread(target=run_pub, args=("a",))
    tb = threading.Thread(target=run_pub, args=("b",))
    ta.start(); tb.start(); ta.join(); tb.join()
    wins = [t for t, r in results.items() if isinstance(r, str)]
    losses = [t for t, r in results.items() if isinstance(r, PublishConflictError)]
    assert len(wins) == 1 and len(losses) == 1, results
    winner_version = results[wins[0]]
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    with open(os.path.join(base, "_ptr", f"{2:020d}"), encoding="utf-8") as f:
        assert f.read().strip() == winner_version
    # the loser's audited version dir exists but is unreachable
    assert os.path.isdir(os.path.join(base, "_v", f"cand-{losses[0]}"))

    # raw claim primitive: N threads, one slot, exactly one winner
    claims = []
    threads = [
        threading.Thread(
            target=lambda i=i: claims.append(
                _claim_generation(spark, base, 99, f"racer-{i}")
            )
        )
        for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(claims) == 1
    os.remove(os.path.join(base, "_ptr", f"{99:020d}"))

    # vacuum: keep only the newest generation — v1's dir and the loser
    # orphan (grace 0) are deleted; the winner stays readable
    deleted = vacuum_versions(spark, base, keep=1, orphan_grace_sec=0.0)
    assert v1 in deleted and f"cand-{losses[0]}" in deleted
    assert not os.path.isdir(os.path.join(base, "_v", v1))
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    # a fresh publish continues the chain after vacuum
    v3 = publish_warehouse(wh, base)
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    assert v3 != winner_version


def test_publish_slot_atomic_with_content_and_broken_head_fallback(
    spark, staging, tmp_path
):
    """The generation slot must never be visible empty (advisor round-11
    high): a claimed slot carries its version id atomically (os.link of
    a fsynced temp locally / rename-no-overwrite on HDFS), no temp
    litter survives, and readers walk PAST an empty or unreadable head
    slot (a torn writer / broken store) to the newest readable
    generation instead of failing forever."""
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        _claim_generation,
        publish_warehouse,
        read_warehouse,
        run_etl,
        vacuum_versions,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold_atomic")
    v1 = publish_warehouse(wh, base)
    n1 = read_warehouse(spark, base).fato_lancamento.count()
    ptr = os.path.join(base, "_ptr")

    # claim primitive: the slot appears WITH content, and no temp files
    # remain in the pointer dir afterwards
    assert _claim_generation(spark, base, 5, "vX") is True
    with open(os.path.join(ptr, f"{5:020d}"), encoding="utf-8") as f:
        assert f.read() == "vX"
    assert _claim_generation(spark, base, 5, "vY") is False
    assert [n for n in os.listdir(ptr) if not n.isdigit()] == []
    os.remove(os.path.join(ptr, f"{5:020d}"))

    # broken head slot (an empty file, as a torn store could leave):
    # reads fall back to v1, not a '_v/' load failure
    broken = os.path.join(ptr, f"{7:020d}")
    with open(broken, "wb"):
        pass
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    # vacuum treats the broken slot as referencing nothing and keeps v1
    # reachable, slot and dir, even under keep=1: it is the newest
    # READABLE generation
    deleted = vacuum_versions(spark, base, keep=1, orphan_grace_sec=0.0)
    assert v1 not in deleted
    assert os.path.isfile(os.path.join(ptr, f"{1:020d}"))
    assert os.path.isdir(os.path.join(base, "_v", v1))
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    # the chain heals: a new publish claims past the broken slot and
    # becomes the head
    v2 = publish_warehouse(wh, base)
    assert v2 != v1
    assert read_warehouse(spark, base).fato_lancamento.count() == n1


def test_publish_refuses_an_existing_version(spark, staging, tmp_path):
    """A published version is immutable: publishing the same version id
    again raises before writing, and the chain head does not move."""
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        _list_generations,
        _resolve_head,
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold_immutable")
    publish_warehouse(wh, base, version="v1")
    v2 = publish_warehouse(wh, base)
    n = read_warehouse(spark, base).fato_lancamento.count()
    v1_files = sorted(os.listdir(os.path.join(base, "_v", "v1", "dim_tipo")))

    with pytest.raises(FileExistsError, match="v1"):
        publish_warehouse(wh, base, version="v1")
    assert _resolve_head(spark, base) == v2
    assert _list_generations(spark, base) == [1, 2]
    assert sorted(os.listdir(os.path.join(base, "_v", "v1", "dim_tipo"))) == v1_files
    assert read_warehouse(spark, base).fato_lancamento.count() == n


def test_s9_wap_time_travel_rebuilds_identically(spark, sf_small):
    """s9 publishes fixed version ids; building it twice in one process
    starts from a cleared base each time and gives the same rows."""
    from etl_lorettoscarpa_1asfb2jf21_spark.queries_catalog_quality import (
        s9_wap_time_travel,
    )

    first = sorted(s9_wap_time_travel(spark, sf_small).collect())
    second = sorted(s9_wap_time_travel(spark, sf_small).collect())
    assert first and first == second


def test_read_warehouse_bootstraps_only_an_empty_chain(spark, tmp_path):
    """A base with no generation reads as an empty Warehouse; a chain
    whose every slot is unreadable raises instead of passing for one."""
    import os

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import read_warehouse

    base = str(tmp_path / "gold_boot")
    assert read_warehouse(spark, base) == Warehouse()
    os.makedirs(os.path.join(base, "_ptr"))
    open(os.path.join(base, "_ptr", f"{1:020d}"), "wb").close()
    with pytest.raises(RuntimeError, match="readable"):
        read_warehouse(spark, base)


def test_corrupt_record_quarantine(spark, tmp_path):
    """Physically malformed rows (wrong field count in either direction)
    land in the corrupt-record quarantine with the raw line preserved for
    replay; well-formed rows parse cleanly from the same cached scan.
    Semantic defects in well-formed rows stay with the downstream
    null-validation gate, mirroring the reference's split between read and
    validate (app/app.py:22 vs 25-62)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.sources.csv_locale import (
        read_lancamentos_csv_with_quarantine,
    )

    bad_csv = (
        "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor\n"
        'Mercado,Despesa,Casa,Supermercado,Variável,01/2024,"823,45"\n'
        "Luz,Despesa,Casa,Energia,Fixa,02/2024,extra_field,99,00,MORE\n"
        "Curto,Despesa,Casa\n"
    )
    p = tmp_path / "bad.csv"
    p.write_text(bad_csv, encoding="utf-8")

    good, quarantine = read_lancamentos_csv_with_quarantine(spark, str(p))
    good_rows = good.collect()
    bad_rows = [r["_corrupt_record"] for r in quarantine.collect()]

    assert [r["Descricao"] for r in good_rows] == ["Mercado"]
    assert len(bad_rows) == 2
    assert any(b.startswith("Luz,") for b in bad_rows)
    assert any(b.startswith("Curto,") for b in bad_rows)


@pytest.mark.parametrize("session", ["spark", "ansi_spark"])
def test_unparseable_month_is_quarantined(request, session, tmp_path):
    """A Data that is no MM/yyyy month is quarantined with Data in
    null_fields, with ANSI mode off or on, so re-loading the same upload
    three times grows no table."""
    s = request.getfixturevalue(session)
    p = tmp_path / "bad_month.csv"
    p.write_text(
        CSV.splitlines()[0] + "\n"
        + "Mercado,Despesa,Casa,Supermercado,Variável,01/2024,\"823,45\"\n"
        + "Feira,Despesa,Casa,Supermercado,Variável,13/2024,\"12,00\"\n",
        encoding="utf-8",
    )
    valid, quarantine = ingest_lancamentos(s, str(p))
    bad = quarantine.collect()
    assert [(r["Descricao"], r["Data"], list(r["null_fields"])) for r in bad] == [
        ("Feira", "13/2024", ["Data"])
    ]
    wh = run_etl(valid)
    counts = wh.counts()
    for _ in range(2):
        wh = run_etl(valid, wh)
        assert wh.counts() == counts
    assert counts["dim_tempo"] == counts["fato_lancamento"] == 1

    # a frame that skipped the gate: the bad month enters no table
    from etl_lorettoscarpa_1asfb2jf21_spark.functions.hashing import business_key_hash

    ungated = s.createDataFrame(
        [("Feira", "Despesa", "Casa", "Supermercado", "Variável", "13/2024", Decimal(12))],
        STAGING_DDL,
    ).withColumn("id_hash", business_key_hash())
    assert run_etl(valid.unionByName(ungated), wh).counts() == counts


# --------------------------------------------- key resolution vs an oracle

TIPOS = ["Despesa", "despesa", "Receita", "Investimento"]
GRUPOS = ["Casa", "casa", "Saúde", "Lazer"]
CATEGORIAS = ["Aluguel", "aluguel", "Água", "Agua", "água", "Ônibus"]
CLASSIFICACOES = ["Fixa", "fixa", "Variável"]
MONTHS = ["11/2023", "12/2023", "01/2024", "02/2024"]
STAGING_DDL = (
    "Descricao string, Tipo string, Grupo string, Categoria string, "
    "Classificacao string, Data string, Valor decimal(15,2)"
)


def _staging_row(t, g, c, cl, month, k):
    """One staging row. The description names every chosen value, so two
    rows share an id_hash only when they are the same row."""
    desc = f"d{k}-{TIPOS.index(t)}{GRUPOS.index(g)}{CATEGORIAS.index(c)}"
    desc += str(CLASSIFICACOES.index(cl))
    return (desc, t, g, c, cl, month, Decimal(k))


def _on_conflict_oracle(batches):
    """The gold tables after loading ``batches`` (lists of staging rows with
    their id_hash), by the reference's ON CONFLICT DO NOTHING loaders in
    plain Python: a dim's new keys get SERIAL ids after its max id, in
    natural-key order; a fact row whose id_hash exists is skipped."""
    import calendar
    from datetime import date

    tempo, tipo, grupo, categoria, classif, fact = {}, {}, {}, {}, {}, {}

    def serial(dim, keys):
        top = max(dim.values(), default=0)
        for i, key in enumerate(sorted(set(keys) - dim.keys()), top + 1):
            dim[key] = i

    for rows in batches:
        months = {(int(r[5][3:]), int(r[5][:2])) for r in rows}
        serial(tempo, months)
        serial(tipo, {r[1] for r in rows})
        serial(grupo, {(tipo[r[1]], r[2]) for r in rows})
        serial(categoria, {(grupo[tipo[r[1]], r[2]], r[3]) for r in rows})
        serial(classif, {r[4] for r in rows})
        for r in rows:
            if r[7] not in fact:
                g = grupo[tipo[r[1]], r[2]]
                ano, mes = int(r[5][3:]), int(r[5][:2])
                fact[r[7]] = (tipo[r[1]], g, categoria[g, r[3]], tempo[ano, mes],
                              classif[r[4]], r[0], r[6], r[7])
    day = lambda a, m: calendar.monthrange(a, m)[1]  # noqa: E731
    return {
        "dim_tempo": sorted(
            (i, a, m, date(a, m, 1).isocalendar()[1], date(a, m, 1), date(a, m, day(a, m)))
            for (a, m), i in tempo.items()
        ),
        "dim_tipo": sorted((i, k) for k, i in tipo.items()),
        "dim_grupo": sorted((i, *k) for k, i in grupo.items()),
        "dim_categoria": sorted((i, *k) for k, i in categoria.items()),
        "dim_classificacao": sorted((i, k) for k, i in classif.items()),
        "fato_lancamento": sorted(fact.values()),
    }


_row = st.tuples(
    st.sampled_from(TIPOS),
    st.sampled_from(GRUPOS),
    st.sampled_from(CATEGORIAS),
    st.sampled_from(CLASSIFICACOES),
    st.sampled_from(MONTHS),
    st.integers(0, 3),
)
# a batch repeats its first row: an intra-batch duplicate
_batch = st.lists(_row, min_size=1, max_size=6).map(lambda rows: rows + rows[:1])


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_batch, min_size=2, max_size=4))
@example(batches=[
    # one Grupo name under two tipos; a later batch brings a new tipo, a
    # case-distinct grupo and an earlier month
    [("Despesa", "Casa", "Aluguel", "Fixa", "01/2024", 0),
     ("Receita", "Casa", "Água", "Variável", "02/2024", 1)],
    [("Investimento", "casa", "Agua", "fixa", "12/2023", 2),
     ("Despesa", "Casa", "Aluguel", "Fixa", "01/2024", 0)],
    [("despesa", "Saúde", "água", "Fixa", "11/2023", 3),
     ("Receita", "Casa", "Água", "Variável", "02/2024", 1)],
    [("Despesa", "Lazer", "Ônibus", "Fixa", "02/2024", 1)],
])
def test_key_resolution_matches_on_conflict_oracle(spark, batches):
    """A sequence of loads builds every gold table, ids included, as the
    reference's ON CONFLICT DO NOTHING / SERIAL loaders would."""
    from etl_lorettoscarpa_1asfb2jf21_spark.functions.hashing import business_key_hash

    wh, loaded = None, []
    for rows in batches:
        staging = spark.createDataFrame(
            [_staging_row(*r) for r in rows], STAGING_DDL
        ).withColumn("id_hash", business_key_hash())
        loaded.append([tuple(r) for r in staging.collect()])
        wh = run_etl(staging, wh)
    got = {
        name: sorted(tuple(r) for r in getattr(wh, name).collect())
        for name in vars(wh)
    }
    assert got == _on_conflict_oracle(loaded)
