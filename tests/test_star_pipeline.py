"""End-to-end star-schema pipeline tests (SURVEY.md §5 items 2-3).

Synthetic lançamentos CSV → bronze (validate/normalize/hash) → gold star
schema → flagship rollup; idempotence (re-loading the same batch grows no
table — the ON CONFLICT property, app/etl.py:51,66,81,98,129)."""

from __future__ import annotations

import textwrap
from decimal import Decimal

import pytest

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
        read_warehouse,
        write_warehouse,
    )

    valid, _ = staging
    wh = run_etl(valid)
    base = str(tmp_path / "gold")
    write_warehouse(wh, base)

    back = read_warehouse(spark, base)
    assert back.fato_lancamento.count() == wh.fato_lancamento.count()

    fact_disk = spark.read.parquet(f"{base}/fato_lancamento")
    jan = fact_disk.filter("ano = 2024 AND mes = 1")
    plan = jan._sc._jvm.PythonSQLUtils.explainString(
        jan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(ano" in plan
    # pruned scan reads only the one (ano=2024, mes=1) directory
    assert jan.count() == 3


def test_publish_crash_leaves_readers_on_old_version(spark, staging, tmp_path):
    """Write-audit-publish: a writer that dies after writing files but
    BEFORE the pointer flip must be invisible — readers keep resolving
    the previous complete version; a later successful publish supersedes
    it; a failed audit aborts without touching the pointer."""
    import os

    import pytest

    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
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
    # never reaches the pointer flip. Readers must not see it.
    crashed = str(tmp_path / "gold/_v/crashed-version")
    write_warehouse(wh, crashed)
    os.remove(os.path.join(crashed, "dim_tempo", "_SUCCESS"))
    with open(os.path.join(base, "_CURRENT"), encoding="utf-8") as f:
        assert f.read().strip() == v1  # pointer untouched
    assert read_warehouse(spark, base).fato_lancamento.count() == n1

    # A failed audit must abort WITHOUT moving the pointer.
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

    # A successful publish flips the pointer atomically.
    v2 = publish_warehouse(wh, base)
    assert v2 != v1
    with open(os.path.join(base, "_CURRENT"), encoding="utf-8") as f:
        assert f.read().strip() == v2
    assert read_warehouse(spark, base).fato_lancamento.count() == n1


def _jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group. Returns (fn's result, the ids
    of every job launched while it ran, the ids under its group).

    Job ids are sequential, so a marker job before and after bounds the
    window. The status tracker is fed asynchronously, in event order:
    once the closing marker is visible, every earlier job is too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        while not tracker.getJobIdsForGroup(group):
            time.sleep(0.05)
        return tracker.getJobIdsForGroup(group)[0]

    group = f"under-test-{uuid.uuid4().hex}"
    first = marker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        last = marker()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, set(range(first + 1, last)), set(tracker.getJobIdsForGroup(group))


def test_load_path_job_budget(spark, staging, tmp_path):
    """run_etl only builds plans: it launches no Spark job, on a fresh or
    an incremental load. Every job publish_warehouse launches, from its
    pool threads too, carries the caller's job group."""
    from etl_lorettoscarpa_1asfb2jf21_spark.plans.star import (
        publish_warehouse,
        read_warehouse,
    )

    valid, _ = staging
    base = str(tmp_path / "gold_jobs")
    wh, launched, grouped = _jobs_during(spark, lambda: run_etl(valid))
    assert launched == grouped == set()
    _, launched, grouped = _jobs_during(spark, lambda: publish_warehouse(wh, base))
    assert grouped and launched == grouped

    prev = read_warehouse(spark, base)
    wh, launched, grouped = _jobs_during(spark, lambda: run_etl(valid, prev))
    assert launched == grouped == set()
    _, launched, grouped = _jobs_during(spark, lambda: publish_warehouse(wh, base))
    assert grouped and launched == grouped


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
    slot (a legacy torn writer / broken store) to the newest readable
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

    # broken head slot (empty file, as a legacy create-then-crash writer
    # would leave): reads fall back to v1, not a '_v/' load failure
    broken = os.path.join(ptr, f"{7:020d}")
    with open(broken, "wb"):
        pass
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    # vacuum treats the broken slot as referencing nothing and keeps v1
    # reachable (it is the newest READABLE generation)
    deleted = vacuum_versions(spark, base, keep=2, orphan_grace_sec=0.0)
    assert v1 not in deleted
    assert read_warehouse(spark, base).fato_lancamento.count() == n1
    # the chain heals: a new publish claims past the broken slot and
    # becomes the head
    v2 = publish_warehouse(wh, base)
    assert v2 != v1
    assert read_warehouse(spark, base).fato_lancamento.count() == n1


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
