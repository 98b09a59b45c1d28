"""Star-schema warehouse build — full EP1+EP2 parity with the reference.

Reference control flow (app/etl.py:136-149): staging read-back → ordered
loader chain dim_tempo → dim_tipo → dim_grupo → dim_categoria →
dim_classificacao → fato_lancamento, each an ``INSERT … ON CONFLICT DO
NOTHING``. Here run_etl resolves every dimension key in one driver pass:
one collect of the batch's distinct natural-key tuples, beside the
existing dims; new SERIAL ids continue after each dim's max id in
natural-key order. The dims come back as small Arrow-backed frames, and
the fact is one lazy broadcast join of staging to the tuple → five ids map,
ON CONFLICT(id_hash) via operators.upsert.insert_if_absent. The publish
writes the six tables at once, the fact one file per month, counts the
sources beside the writes and audits that count against the read-back.

Scale notes: the driver holds the dims and the batch's distinct
(Data, Tipo, Grupo, Categoria, Classificacao) tuples, both bounded by dim
cardinality, never by fact size; the fact build is one map-side join
against the broadcast tuple map.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType
from pyspark.util import inheritable_thread_target

from ..functions.dates import month_string_to_date, time_attributes
from ..functions.hashing import business_key_hash
from ..functions.locale import normalize_valor
from ..operators.upsert import insert_if_absent
from ..operators.validate import split_valid_invalid
from ..schemas import (
    DIM_CATEGORIA_SCHEMA,
    DIM_CLASSIFICACAO_SCHEMA,
    DIM_GRUPO_SCHEMA,
    DIM_TEMPO_SCHEMA,
    DIM_TIPO_SCHEMA,
    REQUIRED_COLUMNS,
)
from ..sources.csv_locale import read_lancamentos_csv


# --------------------------------------------------------------- bronze

def ingest_lancamentos(
    spark: SparkSession, csv_path: str
) -> tuple[DataFrame, DataFrame]:
    """EP1: CSV → validated staging frame (+ quarantine frame).

    Steps (app/app.py:22-79): locale CSV scan → ``stage_lancamentos``.
    Returns (staging, quarantine); both lazy.
    """
    return stage_lancamentos(read_lancamentos_csv(spark, csv_path))


def stage_lancamentos(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Raw upload rows → (staging, quarantine), batch or streaming:
    contract validation with blank→NULL coercion → Valor default "0" →
    id_hash → exact Decimal Valor."""
    # All 7 columns are null-validated (app/app.py:25,39) — including Valor
    # and Classificação; the fillna("0") at app/app.py:65 only runs after the
    # gate, so it is kept for code-path parity but cannot fire on valid rows.
    # A Data that is no MM/yyyy month (the reference's strptime raises,
    # app/etl.py:28) is quarantined as NULL: it has no dim_tempo row to join.
    valid, invalid = split_valid_invalid(
        raw, REQUIRED_COLUMNS, {"Data": month_string_to_date}
    )
    staging = (
        valid.na.fill({"Valor": "0"})
        .withColumn("id_hash", business_key_hash())
        .withColumn("Valor", normalize_valor("Valor"))
    )
    return staging, invalid


# --------------------------------------------------------------- warehouse

@dataclass
class Warehouse:
    """The six gold tables as DataFrames (None = not yet built)."""

    dim_tempo: DataFrame | None = None
    dim_tipo: DataFrame | None = None
    dim_grupo: DataFrame | None = None
    dim_categoria: DataFrame | None = None
    dim_classificacao: DataFrame | None = None
    fato_lancamento: DataFrame | None = None

    def counts(self) -> dict[str, int]:
        """Row count per table (0 when absent), from one union query."""
        names = [
            df.select(F.lit(name).alias("t"))
            for name, df in vars(self).items()
            if df is not None
        ]
        out = dict.fromkeys(vars(self), 0)
        if names:
            out.update(reduce(DataFrame.union, names).groupBy("t").count().collect())
        return out


# The staging columns a fact row resolves its five dimension keys from, and
# the five keys; the dims in their (id, *natural key, *attributes) column
# order, nullable as planned frames are (a stored NULL-keyed row still loads).
_NATURAL = ["Data", "Tipo", "Grupo", "Categoria", "Classificacao"]
_FACT_IDS = ["id_tipo", "id_grupo", "id_categoria", "id_tempo", "id_classificacao"]
_KEY_MAP_SCHEMA = StructType(
    [StructField(c, StringType()) for c in _NATURAL]
    + [StructField(c, IntegerType()) for c in _FACT_IDS]
)
_DIM_SCHEMAS = {
    name: StructType([StructField(f.name, f.dataType) for f in schema])
    for name, schema in [
        ("dim_tempo", DIM_TEMPO_SCHEMA),
        ("dim_tipo", DIM_TIPO_SCHEMA),
        ("dim_grupo", DIM_GRUPO_SCHEMA),
        ("dim_categoria", DIM_CATEGORIA_SCHEMA),
        ("dim_classificacao", DIM_CLASSIFICACAO_SCHEMA),
    ]
}


def _local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver rows as a frame over one Arrow batch (a list would become an
    RDD of pickled rows, ~10× dearer per use)."""
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema]
    return spark.createDataFrame(pa.table(dict(zip(schema.names, cols))), schema)


def _serial(
    old: list, width: int, new: dict[tuple, tuple]
) -> tuple[list[tuple], dict[tuple, int]]:
    """``INSERT … ON CONFLICT (key) DO NOTHING`` into a SERIAL dim, on the
    driver. ``old`` rows are ``(id, *key, *attrs)`` with a ``width``-wide
    key; ``new`` maps each candidate key to its attrs. Absent keys get ids
    after old's max id in key order: the ids ``row_number() OVER (ORDER BY
    key)`` offset by ``max(id)`` gives. Returns (all rows, key → id)."""
    rows = [tuple(r) for r in old]
    ids = {r[1 : 1 + width]: r[0] for r in rows}
    top = max((r[0] for r in rows), default=0)
    for i, key in enumerate(sorted(new.keys() - ids.keys()), top + 1):
        ids[key] = i
        rows.append((i, *key, *new[key]))
    return rows, ids


def run_etl(staging: DataFrame, warehouse: Warehouse | None = None) -> Warehouse:
    """EP2: the loader chain dim_tempo → dim_tipo → dim_grupo →
    dim_categoria → dim_classificacao → fato_lancamento, with every
    dimension key resolved in one driver pass.

    One collect takes the batch's distinct natural-key tuples, with their
    time attributes computed in Spark; the existing dims are collected
    beside it. ``_serial`` assigns the new ids, and each dim comes back as
    a small Arrow-backed frame. The fact stays lazy: staging ⋈
    broadcast(tuple → five ids), ON CONFLICT(id_hash) against the existing
    fact. A row enters the star only whole: a NULL key or a ``Data`` that
    does not parse resolves no dim and adds no fact row.

    Pass an existing Warehouse for incremental (idempotent) loads;
    re-running with the same staging batch grows no table (tested).
    No frame is kept: the key collect reads only the five natural
    columns of staging, and the publish reads staging again for the fact.
    """
    spark = staging.sparkSession
    wh = warehouse or Warehouse()
    tuples = (
        staging.select(*_NATURAL)
        .distinct()
        .withColumns(time_attributes(month_string_to_date("Data")))
    )
    frames = [tuples] + [
        None if getattr(wh, name) is None else getattr(wh, name).select(*schema.names)
        for name, schema in _DIM_SCHEMAS.items()
    ]
    found, tempo, tipo, grupo, categoria, classificacao = _in_pool(
        spark, lambda df: [] if df is None else df.collect(), frames
    )
    # whole tuples only (a Row's ``in`` tests field names, hence tuple());
    # dropped here, since a NULL filter in the plan is pushed below the
    # distinct and parses every staging row's Data again
    found = [r for r in found if None not in tuple(r)]

    tempo, tempo_id = _serial(
        tempo, 2, {(r.ano, r.mes): (r.semana, r.data_inicio, r.data_fim) for r in found}
    )
    tipo, tipo_id = _serial(tipo, 1, {(r.Tipo,): () for r in found})
    grupo_key = {r: (tipo_id[(r.Tipo,)], r.Grupo) for r in found}
    grupo, grupo_id = _serial(grupo, 2, dict.fromkeys(grupo_key.values(), ()))
    categoria_key = {r: (grupo_id[grupo_key[r]], r.Categoria) for r in found}
    categoria, categoria_id = _serial(
        categoria, 2, dict.fromkeys(categoria_key.values(), ())
    )
    classificacao, classificacao_id = _serial(
        classificacao, 1, {(r.Classificacao,): () for r in found}
    )
    key_map = [
        (
            *r[: len(_NATURAL)],
            tipo_id[(r.Tipo,)],
            grupo_id[grupo_key[r]],
            categoria_id[categoria_key[r]],
            tempo_id[r.ano, r.mes],
            classificacao_id[(r.Classificacao,)],
        )
        for r in found
    ]

    out = Warehouse(*(
        _local_frame(spark, rows, schema)
        for rows, schema in zip(
            [tempo, tipo, grupo, categoria, classificacao], _DIM_SCHEMAS.values()
        )
    ))
    fact = staging.join(
        F.broadcast(_local_frame(spark, key_map, _KEY_MAP_SCHEMA)), _NATURAL
    ).select(
        *_FACT_IDS,
        F.col("Descricao").alias("descricao"),
        F.col("Valor").alias("valor"),
        "id_hash",
    )
    new = insert_if_absent(fact, wh.fato_lancamento, ["id_hash"])
    out.fato_lancamento = (
        new if wh.fato_lancamento is None else wh.fato_lancamento.unionByName(new)
    )
    return out


# --------------------------------------------------------------- gold I/O

GOLD_TABLES = [
    "dim_tempo",
    "dim_tipo",
    "dim_grupo",
    "dim_categoria",
    "dim_classificacao",
    "fato_lancamento",
]


def _in_pool(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]`` on one thread per gold table; each task
    inherits the caller's job group and tags."""
    task = inheritable_thread_target(spark)(fn)
    with ThreadPoolExecutor(max_workers=len(GOLD_TABLES)) as pool:
        return list(pool.map(task, items))


def _fact_with_month(wh: Warehouse) -> DataFrame:
    """The fact as written: with dim_tempo's (ano, mes) to partition by."""
    return wh.fato_lancamento.join(
        F.broadcast(wh.dim_tempo.select("id_tempo", "ano", "mes")), "id_tempo"
    )


def write_warehouse(wh: Warehouse, base_path: str) -> None:
    """Write the six gold tables under ``base_path``, which
    publish_warehouse makes a fresh version dir; the fact is partitioned
    by (ano, mes).

    The six tables are written concurrently: each dim is a few tiny jobs,
    which serial writes would leave the cores idle between. No frame is
    kept: each write evaluates its frame's lineage itself.

    Dims are small — one parquet file each (coalesce(1): no point paying a
    shuffle's worth of tiny files). The fact carries denormalized (ano, mes)
    from dim_tempo — standard lakehouse practice so month-scoped rollups hit
    partition pruning (and dynamic partition pruning on dim_tempo joins)
    instead of scanning all history. At 100 TB this is the difference
    between reading one month and reading a decade. Rebalancing the fact
    on (ano, mes) writes a month as one file, not one per shuffle partition.
    """

    def write(name: str) -> None:
        if name == "fato_lancamento":
            out = _fact_with_month(wh).hint("rebalance", "ano", "mes").write
            out = out.partitionBy("ano", "mes")
        else:
            out = getattr(wh, name).coalesce(1).write
        out.mode("overwrite").parquet(f"{base_path}/{name}")

    _in_pool(wh.fato_lancamento.sparkSession, write, GOLD_TABLES)


# ------------------------------------------------- write-audit-publish
#
# The reference's ON CONFLICT upserts (app/etl.py:48-51,62-66,77-81,
# 93-98,112-129) are transactional per statement: a crashed loader never
# leaves a half-written table, and readers never see one. A bare
# `write.mode("overwrite")` over parquet has neither property — the old
# data is deleted before the new data finishes. Without bringing in a
# table format (Delta/Iceberg), the standard lakehouse answer is
# WRITE-AUDIT-PUBLISH onto a generation chain, the log-pointer commit of
# Delta Lake (Armbrust et al., VLDB 2020):
#
#   1. WRITE  the whole gold layer into a fresh immutable version
#      directory `{base}/_v/{version}/` — never into the live paths. A
#      version id that already exists is refused before anything is
#      written: a published version is never rewritten.
#   2. AUDIT  the written files by reading them back and running checks
#      (row counts vs a recount of the sources here; extend with FK/null
#      checks as needed). A failed audit aborts before anything is visible.
#   3. PUBLISH by a compare-and-swap on the generation chain under
#      `{base}/_ptr/`: the publisher captured the head generation g at
#      entry and now claims slot `_ptr/{g+1:020d}` with an ATOMIC
#      CREATE-EXCLUSIVE carrying its version id. Exactly one writer can
#      create a given slot — the loser raises PublishConflictError (its
#      version dir stays orphaned and vacuumable; orchestration retries
#      on the new base, the Delta/Iceberg optimistic-commit shape).
#      Primitive per store: local file: → link of a fsynced temp
#      (POSIX-atomic); HDFS → rename without overwrite (atomic in the
#      namenode); S3 → conditional PUT (If-None-Match: *).
#
# A crash at ANY point before step 3 leaves the chain untouched: readers
# keep resolving the previous complete version (tested in
# tests/test_star_pipeline.py::test_publish_crash_leaves_readers_on_old_version).
# Readers resolve the newest readable generation — version dirs are
# complete before their slot exists, so a reader can never see a torn
# version; a base with no generation is an empty warehouse.
# Old versions accumulate under `_v/` and double as time travel;
# vacuum_versions(keep=N) retires generations beyond the newest N and
# deletes their version dirs (plus aged-out loser orphans).

_PTR_DIR = "_ptr"
_GEN_WIDTH = 20


class PublishConflictError(RuntimeError):
    """Another publisher claimed the next generation first; this
    publisher's version directory was written and audited but never
    became visible. Retry the publish against the new current state."""


def _hpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _gen_fs(spark: SparkSession, base_path: str):
    p = _hpath(spark, f"{base_path}/{_PTR_DIR}")
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _list_generations(spark: SparkSession, base_path: str) -> list[int]:
    """Sorted generation numbers present in the pointer chain."""
    fs, d = _gen_fs(spark, base_path)
    if not fs.exists(d):
        return []
    gens = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.isdigit():
            gens.append(int(name))
    return sorted(gens)


def _read_generation(spark: SparkSession, base_path: str, gen: int) -> str:
    jvm = spark._jvm
    fs, d = _gen_fs(spark, base_path)
    stream = fs.open(_hpath(spark, f"{base_path}/{_PTR_DIR}/{gen:0{_GEN_WIDTH}d}"))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8").strip()
    finally:
        stream.close()


def _current_generation(spark: SparkSession, base_path: str) -> int:
    """Highest claimed generation; 0 when the chain is empty."""
    gens = _list_generations(spark, base_path)
    return gens[-1] if gens else 0


def _resolve_head(spark: SparkSession, base_path: str) -> str | None:
    """Version id at the chain head: the newest generation whose slot
    reads back non-empty. _claim_generation never creates an empty
    slot (the content rides the atomic link/rename), but a slot broken
    by a torn store must degrade to the previous good generation, not
    brick every read.

    None when the chain holds no generation: a fresh base. Raises when
    slots exist but none is readable — a transient read failure must
    never pass for an empty warehouse, which the next load would publish
    as a one-batch gold layer."""
    gens = _list_generations(spark, base_path)
    for g in reversed(gens):
        try:
            v = _read_generation(spark, base_path, g)
        except Exception:  # noqa: BLE001 — unreadable slot: fall back
            continue
        if v:
            return v
    if gens:
        raise RuntimeError(
            f"none of the {len(gens)} generation slots under "
            f"{base_path}/{_PTR_DIR} is readable"
        )
    return None


def _claim_generation(
    spark: SparkSession, base_path: str, gen: int, version: str
) -> bool:
    """Atomically create the generation slot file carrying ``version``;
    False when the slot already exists (another publisher won).

    The slot must appear WITH its content, never empty: a create-then-
    write pair leaves a window (and a crash point) where the newest slot
    is visible but empty, so every chain-head resolution would load
    `_v/` and fail — permanently, because vacuum never deletes the
    newest generation. So the content is written to a TEMP file first
    and the slot materializes in one atomic metadata op:

    * local ``file:`` — ``os.link(tmp, slot)`` (POSIX-atomic; EEXIST =
      lost CAS). O_CREAT|O_EXCL alone would be an atomic *claim* but an
      empty-visible slot.
    * every other scheme — ``FileSystem.rename(tmp, slot)`` without
      overwrite, which is atomic and fails when the destination exists
      on HDFS (namenode-side). On S3 substitute a conditional PUT of
      the full content (`If-None-Match: *`) — same one-shot semantics.

    Readers additionally skip empty/unreadable slots (`_resolve_head`)
    so a slot broken by the store can never brick the chain."""
    import os
    import uuid as _uuid

    fs, d = _gen_fs(spark, base_path)
    fs.mkdirs(d)
    slot = f"{base_path}/{_PTR_DIR}/{gen:0{_GEN_WIDTH}d}"
    # dot-prefixed so _list_generations (name.isdigit()) never sees it
    tmp = f"{base_path}/{_PTR_DIR}/.claim-{_uuid.uuid4().hex}"
    uri = d.toUri()
    if (uri.getScheme() or "file") == "file":
        strip = lambda p: p[len("file:"):] if p.startswith("file:") else p  # noqa: E731
        local_slot, local_tmp = strip(slot), strip(tmp)
        with open(local_tmp, "wb") as f:
            f.write(version.encode("utf-8"))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(local_tmp, local_slot)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(local_tmp)
    out = fs.create(_hpath(spark, tmp), True)
    try:
        out.write(bytearray(version.encode("utf-8")))
    finally:
        out.close()
    try:
        return bool(fs.rename(_hpath(spark, tmp), _hpath(spark, slot)))
    finally:
        tp = _hpath(spark, tmp)
        if fs.exists(tp):
            fs.delete(tp, False)


def publish_warehouse(
    wh: Warehouse,
    base_path: str,
    version: str | None = None,
    expected_generation: int | None = None,
) -> str:
    """Crash-safe gold publish via write-audit-publish (see block comment
    above). Returns the published version id. Raises — WITHOUT moving any
    pointer — if the audit read-back row counts disagree with the source
    frames, and raises PublishConflictError — same guarantee — if another
    publisher claimed the next generation first (compare-and-swap on the
    generation chain; ``expected_generation`` pins the CAS base
    explicitly, defaulting to the chain head observed at entry). A
    published version is immutable: an explicit ``version`` that already
    exists under ``_v/`` raises FileExistsError before anything is
    written.

    The tables are written concurrently, the fact one file per month,
    beside one union count of the sources; the audit compares it with one
    union count of the files read back. That is a *recount* of the source
    lineage, no frame kept, so ``wh`` must be deterministic: a source
    whose row count changes in between (an upload file replaced
    mid-publish, say) fails the audit and publishes nothing. A kept frame
    would promise no more: a lost block is recomputed from its lineage."""
    import uuid

    version = version or uuid.uuid4().hex
    vdir = f"{base_path}/_v/{version}"
    spark = wh.fato_lancamento.sparkSession
    vpath = _hpath(spark, vdir)
    if vpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(vpath):
        raise FileExistsError(
            f"version {version} already exists under {base_path}/_v; "
            "published versions are immutable"
        )
    base_gen = (
        expected_generation
        if expected_generation is not None
        else _current_generation(spark, base_path)
    )

    # WRITE into the immutable version dir beside the source count, which
    # prunes every payload column: cheaper than keeping the frames for both
    _, expect = _in_pool(
        spark, lambda f: f(), [lambda: write_warehouse(wh, vdir), wh.counts]
    )

    # AUDIT: re-read what actually landed on disk and compare counts
    written = {**vars(wh), "fato_lancamento": _fact_with_month(wh)}
    back = Warehouse(**{
        name: spark.read.schema(df.schema).parquet(f"{vdir}/{name}")
        for name, df in written.items()
    })
    got = back.counts()
    for name in GOLD_TABLES:
        if expect[name] != got[name]:
            raise RuntimeError(
                f"audit failed for {name}: wrote {expect[name]} rows, "
                f"read back {got[name]}; version {version} NOT published"
            )

    # PUBLISH: compare-and-swap on the generation chain — exactly one
    # publisher can create slot base_gen+1; the loser's version dir
    # stays invisible (and vacuumable) and the loser raises
    if not _claim_generation(spark, base_path, base_gen + 1, version):
        # best-effort winner id for the message only — tolerate a slot a
        # competing store is still materializing or a transient read error
        try:
            winner = (
                _read_generation(spark, base_path, base_gen + 1) or "<in-flight>"
            )
        except Exception:  # noqa: BLE001
            winner = "<in-flight>"
        raise PublishConflictError(
            f"generation {base_gen + 1} already claimed by version "
            f"{winner!r}; "
            f"version {version} NOT published — retry on the new base"
        )
    return version


def vacuum_versions(
    spark: SparkSession,
    base_path: str,
    keep: int = 2,
    orphan_grace_sec: float = 86400.0,
) -> list[str]:
    """Retention vacuum for the write-audit-publish layout: keep the
    newest ``keep`` generations (their slot files AND version dirs),
    delete retired generations' version dirs, and delete ORPHAN version
    dirs (written by losing/crashed publishers, referenced by no slot)
    whose modification time is older than ``orphan_grace_sec`` — the
    grace window keeps an in-flight publisher's half-written dir safe.
    Returns the deleted version ids. The newest readable generation is
    always kept, slot and dir, even behind broken newer slots, so
    concurrent readers resolving the chain head stay safe;
    readers of RETIRED versions must finish within the retention window
    (the standard lakehouse vacuum contract)."""
    import time as _time

    gens = _list_generations(spark, base_path)
    keep = max(1, int(keep))
    # one slot read per generation, reused for both sets (each read is a
    # round-trip to the store); unreadable/empty slots reference nothing
    gen_versions: dict[int, str | None] = {}
    for g in gens:
        try:
            gen_versions[g] = _read_generation(spark, base_path, g) or None
        except Exception:  # noqa: BLE001 — broken slot references nothing
            gen_versions[g] = None
    head = [g for g in gens if gen_versions[g]][-1:]
    kept_gens = set(gens[-keep:] + head)
    kept_versions = {v for g, v in gen_versions.items() if g in kept_gens and v}
    referenced = {v for v in gen_versions.values() if v}
    vroot = _hpath(spark, f"{base_path}/_v")
    fs = vroot.getFileSystem(spark._jsc.hadoopConfiguration())
    deleted: list[str] = []
    if fs.exists(vroot):
        now_ms = _time.time() * 1000.0
        for st in fs.listStatus(vroot):
            vid = st.getPath().getName()
            if vid in kept_versions:
                continue
            if vid not in referenced and (
                now_ms - st.getModificationTime() < orphan_grace_sec * 1000.0
            ):
                continue  # possibly an in-flight publisher — spare it
            fs.delete(st.getPath(), True)
            deleted.append(vid)
    for g in gens:
        if g not in kept_gens:
            fs.delete(
                _hpath(spark, f"{base_path}/{_PTR_DIR}/{g:0{_GEN_WIDTH}d}"), False
            )
    return deleted


def _read_warehouse_dir(spark: SparkSession, vdir: str) -> Warehouse:
    tables = _in_pool(spark, lambda name: spark.read.parquet(f"{vdir}/{name}"), GOLD_TABLES)
    wh = Warehouse(**dict(zip(GOLD_TABLES, tables)))
    wh.fato_lancamento = wh.fato_lancamento.drop("ano", "mes")
    return wh


def read_warehouse(spark: SparkSession, base_path: str) -> Warehouse:
    """Load the published gold layer back as a Warehouse of DataFrames:
    the version at the generation chain head (`_resolve_head`; slot
    files exist only after their version dir is complete). A base with
    no generation yet is an empty Warehouse, so a first load bootstraps
    from it; a chain with no readable slot raises.

    The fact's (ano, mes) partition columns exist on disk purely for
    pruning (write_warehouse denormalizes them); the canonical in-memory
    fact schema omits them, so they are dropped here — month-scoped readers
    that want pruning filter the parquet directly.
    """
    version = _resolve_head(spark, base_path)
    if version is None:
        return Warehouse()
    return _read_warehouse_dir(spark, f"{base_path}/_v/{version}")
