"""Star-schema warehouse build — full EP1+EP2 parity with the reference.

Reference control flow (app/etl.py:136-149): staging read-back → ordered
loader chain dim_tempo → dim_tipo → dim_grupo → dim_categoria →
dim_classificacao → fato_lancamento, each an ``INSERT … ON CONFLICT DO
NOTHING``. Here each loader is a lazy DataFrame lineage over one cached
staging frame; idempotence comes from operators.upsert.insert_if_absent
(dedup-within-batch + left-anti against existing), surrogate keys from
operators.surrogate (row_number offset by max existing id, in the plan):
run_etl launches no Spark job. The publish writes the six tables at once,
the fact one file per month, and audits with two concurrent union counts.

Scale notes: dims are distinct-projections of staging (partial+final hash
aggregate, map-side combined); the fact build is a 5-way star join where
every dim side is broadcast (dims are small by construction). The only
global sort is the row_number over each *dim's* distinct values — bounded by
dim cardinality, never by fact size.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.dates import month_string_to_date, time_attributes
from ..functions.hashing import business_key_hash
from ..functions.locale import normalize_valor
from ..operators.surrogate import with_surrogate_key
from ..operators.upsert import insert_if_absent
from ..operators.validate import split_valid_invalid
from ..schemas import REQUIRED_COLUMNS
from ..sources.csv_locale import read_lancamentos_csv


# --------------------------------------------------------------- bronze

def ingest_lancamentos(
    spark: SparkSession, csv_path: str
) -> tuple[DataFrame, DataFrame]:
    """EP1: CSV → validated staging frame (+ quarantine frame).

    Steps (app/app.py:22-79): locale CSV scan → contract validation with
    blank→NULL coercion → Valor default "0" → id_hash → exact Decimal Valor.
    Returns (staging, quarantine); both lazy.
    """
    raw = read_lancamentos_csv(spark, csv_path)
    # All 7 columns are null-validated (app/app.py:25,39) — including Valor
    # and Classificação; the fillna("0") at app/app.py:65 only runs after the
    # gate, so it is kept for code-path parity but cannot fire on valid rows.
    valid, invalid = split_valid_invalid(raw, REQUIRED_COLUMNS)
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


def _append(existing: DataFrame | None, new: DataFrame) -> DataFrame:
    if existing is None:
        return new
    return existing.unionByName(new)


def _upsert_dim(
    rows: DataFrame, existing: DataFrame | None, id_col: str, key: list[str]
) -> DataFrame:
    """ON CONFLICT(key) DO NOTHING into a SERIAL dim, ids after existing's."""
    new = insert_if_absent(rows, existing, key)
    keyed = with_surrogate_key(
        new, id_col, key, offset=0 if existing is None else existing
    ).select(id_col, *rows.columns)
    return _append(existing, keyed)


def _load_dim_tempo(staging: DataFrame, existing: DataFrame | None) -> DataFrame:
    """app/etl.py:20-40: distinct Data → parse MM/yyyy → 5 time attrs.

    Deviation (improvement): the reference appends with no conflict key —
    dim_tempo has no unique constraint (initdb/01_schema.sql:53-61), so
    re-running its ETL duplicates time rows. We upsert on (ano, mes), which
    is what the fact join key requires for single-match semantics.
    """
    months = (
        staging.na.drop(subset=["Data"])
        .select("Data")
        .distinct()
        .withColumn("_d", month_string_to_date("Data"))
        .withColumns(time_attributes("_d"))
        .select("ano", "mes", "semana", "data_inicio", "data_fim")
    )
    return _upsert_dim(months, existing, "id_tempo", ["ano", "mes"])


def _load_simple_dim(
    staging: DataFrame,
    existing: DataFrame | None,
    src_col: str,
    id_col: str,
    name_col: str,
    not_null: bool = False,
) -> DataFrame:
    """dim_tipo (app/etl.py:43-55) / dim_classificacao (app/etl.py:57-70):
    SELECT DISTINCT → ON CONFLICT(name) DO NOTHING."""
    vals = staging.select(F.col(src_col).alias(name_col))
    if not_null:
        vals = vals.filter(F.col(name_col).isNotNull())
    return _upsert_dim(vals.distinct(), existing, id_col, [name_col])


def _load_dim_grupo(
    staging: DataFrame, dim_tipo: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """app/etl.py:72-85: distinct (Tipo,Grupo) ⋈ dim_tipo → (id_tipo, nome_grupo)."""
    pairs = (
        staging.select(F.col("Tipo"), F.col("Grupo").alias("nome_grupo"))
        .distinct()
        .join(F.broadcast(dim_tipo), F.col("Tipo") == dim_tipo["nome_tipo"], "inner")
        .select("id_tipo", "nome_grupo")
    )
    return _upsert_dim(pairs, existing, "id_grupo", ["id_tipo", "nome_grupo"])


def _load_dim_categoria(
    staging: DataFrame,
    dim_tipo: DataFrame,
    dim_grupo: DataFrame,
    existing: DataFrame | None,
) -> DataFrame:
    """app/etl.py:88-102: distinct (Tipo,Grupo,Categoria) ⋈ tipo ⋈ grupo
    (composite key J2) → (id_grupo, nome_categoria)."""
    triples = (
        staging.select("Tipo", "Grupo", F.col("Categoria").alias("nome_categoria"))
        .distinct()
        .alias("s")
    )
    resolved = (
        triples.join(
            F.broadcast(dim_tipo.alias("dt")), F.col("s.Tipo") == F.col("dt.nome_tipo"), "inner"
        )
        .join(
            F.broadcast(dim_grupo.alias("dg")),
            (F.col("s.Grupo") == F.col("dg.nome_grupo"))
            & (F.col("dt.id_tipo") == F.col("dg.id_tipo")),
            "inner",
        )
        .select(F.col("dg.id_grupo"), F.col("s.nome_categoria"))
    )
    return _upsert_dim(resolved, existing, "id_categoria", ["id_grupo", "nome_categoria"])


def _load_fato(staging: DataFrame, wh: Warehouse, existing: DataFrame | None) -> DataFrame:
    """app/etl.py:105-133: 5-way star join (J4) resolving every FK, join to
    dim_tempo on computed (ano,mes) keys (J3), ON CONFLICT(id_hash) (J5)."""
    s = staging.withColumn("_data_parsed", month_string_to_date("Data")).alias("s")
    fact = (
        s.join(
            F.broadcast(wh.dim_tipo.alias("dt")),
            F.col("s.Tipo") == F.col("dt.nome_tipo"),
            "inner",
        )
        .join(
            F.broadcast(wh.dim_grupo.alias("dg")),
            (F.col("s.Grupo") == F.col("dg.nome_grupo"))
            & (F.col("dt.id_tipo") == F.col("dg.id_tipo")),
            "inner",
        )
        .join(
            F.broadcast(wh.dim_categoria.alias("dc")),
            (F.col("s.Categoria") == F.col("dc.nome_categoria"))
            & (F.col("dg.id_grupo") == F.col("dc.id_grupo")),
            "inner",
        )
        # INNER like the reference (app/etl.py:126): a NULL Classificação can
        # never reach staging (the 7-column validation gate rejects it), so
        # inner ≡ left here; inner keeps byte-parity if the gate is bypassed.
        .join(
            F.broadcast(wh.dim_classificacao.alias("dcl")),
            F.col("s.Classificacao") == F.col("dcl.nome_classificacao"),
            "inner",
        )
        .join(
            F.broadcast(wh.dim_tempo.alias("dtmp")),
            (F.col("dtmp.ano") == F.year(F.col("s._data_parsed")))
            & (F.col("dtmp.mes") == F.month(F.col("s._data_parsed"))),
            "inner",
        )
        .select(
            F.col("dt.id_tipo"),
            F.col("dg.id_grupo"),
            F.col("dc.id_categoria"),
            F.col("dtmp.id_tempo"),
            F.col("dcl.id_classificacao"),
            F.col("s.Descricao").alias("descricao"),
            F.col("s.Valor").alias("valor"),
            F.col("s.id_hash"),
        )
    )
    new = insert_if_absent(fact, existing, ["id_hash"])
    return _append(existing, new)


def run_etl(staging: DataFrame, warehouse: Warehouse | None = None) -> Warehouse:
    """EP2: ordered loader chain over one cached staging frame.

    Pass an existing Warehouse for incremental (idempotent) loads; re-running
    with the same staging batch grows no table (tested). Lazy: builds the
    plans only and launches no Spark job (tested).
    """
    wh = warehouse or Warehouse()
    staging = staging.cache()
    out = Warehouse()
    out.dim_tempo = _load_dim_tempo(staging, wh.dim_tempo).cache()
    out.dim_tipo = _load_simple_dim(staging, wh.dim_tipo, "Tipo", "id_tipo", "nome_tipo").cache()
    out.dim_grupo = _load_dim_grupo(staging, out.dim_tipo, wh.dim_grupo).cache()
    out.dim_categoria = _load_dim_categoria(
        staging, out.dim_tipo, out.dim_grupo, wh.dim_categoria
    ).cache()
    out.dim_classificacao = _load_simple_dim(
        staging, wh.dim_classificacao, "Classificacao", "id_classificacao",
        "nome_classificacao", not_null=True,
    ).cache()
    out.fato_lancamento = _load_fato(staging, out, wh.fato_lancamento)
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
    """Persist the gold layer; the fact is partitioned by (ano, mes).

    The six tables are written concurrently: each dim is a few tiny jobs,
    which serial writes would leave the cores idle between.

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
# WRITE-AUDIT-PUBLISH with an atomic current-version pointer:
#
#   1. WRITE  the whole gold layer into a fresh immutable version
#      directory `{base}/_v/{version}/` — never into the live paths.
#   2. AUDIT  the written files by reading them back and running checks
#      (row counts vs the source frames here; extend with FK/null checks
#      as needed). A failed audit aborts before anything is visible.
#   3. PUBLISH by atomically replacing the `{base}/_CURRENT` pointer
#      file. POSIX rename is atomic; on HDFS a rename is atomic too; on
#      S3 use a conditional PUT (If-Match) on the pointer object.
#
# A crash at ANY point before step 3 leaves the pointer untouched:
# readers keep resolving the previous complete version (tested in
# tests/test_star_pipeline.py::test_publish_crash_leaves_readers_on_old_version).
#
# CONCURRENT PUBLISHERS (round 11): the publish step is a
# compare-and-swap on a monotonically increasing GENERATION CHAIN under
# `{base}/_ptr/`: a publisher captures the current generation g at entry,
# writes + audits its version dir, then claims slot `_ptr/{g+1:020d}`
# with an ATOMIC CREATE-EXCLUSIVE carrying its version id. Exactly one
# writer can create a given slot — the loser raises PublishConflictError
# (its version dir stays orphaned and vacuumable; orchestration retries
# on the new base, exactly the Delta/Iceberg optimistic-commit shape).
# Primitive per store: local file: → O_CREAT|O_EXCL (POSIX-atomic); HDFS
# → FileSystem.create(overwrite=false) (atomic in the namenode); S3 →
# conditional PUT (If-None-Match: *). Readers resolve the HIGHEST
# generation — version dirs are immutable and complete before their slot
# file exists, so a reader can never see a torn version. `_CURRENT` is
# still written by the slot WINNER for legacy flat readers.
# Old versions accumulate under `_v/` and double as time travel;
# vacuum_versions(keep=N) retires generations beyond the newest N and
# deletes their version dirs (plus aged-out loser orphans).

_CURRENT_POINTER = "_CURRENT"
_PTR_DIR = "_ptr"
_GEN_WIDTH = 20


class PublishConflictError(RuntimeError):
    """Another publisher claimed the next generation first; this
    publisher's version directory was written and audited but never
    became visible. Retry the publish against the new current state."""


def _pointer_fs(spark: SparkSession, base_path: str):
    """(FileSystem, Path) for the pointer — resolved from ``base_path``'s
    own scheme via the Hadoop FileSystem API, so the protocol works
    wherever the data files go (file:, hdfs:, s3a:, ...), not just on a
    driver-local filesystem."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{base_path}/{_CURRENT_POINTER}")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _write_pointer_atomic(spark: SparkSession, base_path: str, version: str) -> None:
    """Write the version id to a temp object, then atomically rename over
    `_CURRENT` (FileContext.rename(..., OVERWRITE): atomic on POSIX and
    HDFS; on S3A the rename degrades to copy+delete — use a conditional
    PUT on the pointer object there, as the protocol comment notes)."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    fs, pointer = _pointer_fs(spark, base_path)
    tmp = jvm.org.apache.hadoop.fs.Path(str(pointer) + f".tmp.{version}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(version.encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        pointer.toUri(), spark._jsc.hadoopConfiguration()
    )
    rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(rename_cls, 1)
    opts[0] = rename_cls.OVERWRITE
    fc.rename(tmp, pointer, opts)


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
    """Version id at the chain head, walking PAST empty or unreadable
    slots to the newest readable generation. _claim_generation can no
    longer create an empty-visible slot (the content rides the atomic
    link/rename), but a slot broken by an older writer or a torn store
    must degrade to the previous good generation, not brick every
    read."""
    for g in reversed(_list_generations(spark, base_path)):
        try:
            v = _read_generation(spark, base_path, g)
        except Exception:  # noqa: BLE001 — unreadable slot: fall back
            continue
        if v:
            return v
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
    so a legacy broken slot can never brick the chain."""
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


def _read_pointer(spark: SparkSession, base_path: str) -> str | None:
    """Resolve `_CURRENT` through the Hadoop FileSystem of base_path;
    None if no pointer exists (legacy flat layout)."""
    jvm = spark._jvm
    fs, pointer = _pointer_fs(spark, base_path)
    if not fs.exists(pointer):
        return None
    stream = fs.open(pointer)
    try:
        return (
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8").strip()
        )
    finally:
        stream.close()


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
    explicitly, defaulting to the chain head observed at entry).

    The tables are written concurrently, the fact one file per month; the
    audit counts sources and read-back in two concurrent union queries."""
    import uuid

    from pyspark import StorageLevel

    version = version or uuid.uuid4().hex
    vdir = f"{base_path}/_v/{version}"
    spark = wh.fato_lancamento.sparkSession
    base_gen = (
        expected_generation
        if expected_generation is not None
        else _current_generation(spark, base_path)
    )

    # persist the source frames FIRST so the write and the audit count
    # share one computation of each lineage instead of recomputing the
    # full upstream plan per consumer (spill-safe level — a huge gold
    # layer must not be pinned to executor memory)
    cached = Warehouse(**{
        name: df.persist(StorageLevel.MEMORY_AND_DISK) for name, df in vars(wh).items()
    })
    try:
        write_warehouse(cached, vdir)  # WRITE: into the immutable version dir

        # AUDIT: re-read what actually landed on disk and compare counts
        written = {**vars(cached), "fato_lancamento": _fact_with_month(cached)}
        back = Warehouse(**{
            name: spark.read.schema(df.schema).parquet(f"{vdir}/{name}")
            for name, df in written.items()
        })
        expect, got = _in_pool(spark, Warehouse.counts, [cached, back])
        for name in GOLD_TABLES:
            if expect[name] != got[name]:
                raise RuntimeError(
                    f"audit failed for {name}: wrote {expect[name]} rows, "
                    f"read back {got[name]}; version {version} NOT published"
                )
    finally:
        for name in GOLD_TABLES:
            getattr(cached, name).unpersist()

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
    # legacy `_CURRENT` follows the chain (written by the slot winner
    # only, so it can never point at an unpublished version)
    _write_pointer_atomic(spark, base_path, version)
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
    Returns the deleted version ids. The newest generation is never
    deleted, so concurrent readers resolving the chain head stay safe;
    readers of RETIRED versions must finish within the retention window
    (the standard lakehouse vacuum contract)."""
    import time as _time

    gens = _list_generations(spark, base_path)
    keep = max(1, int(keep))
    kept_gens = set(gens[-keep:])
    # one slot read per generation, reused for both sets (each read is a
    # round-trip to the store); unreadable/empty slots reference nothing
    gen_versions: dict[int, str | None] = {}
    for g in gens:
        try:
            gen_versions[g] = _read_generation(spark, base_path, g) or None
        except Exception:  # noqa: BLE001 — broken slot references nothing
            gen_versions[g] = None
    kept_versions = {v for g, v in gen_versions.items() if g in kept_gens and v}
    legacy = _read_pointer(spark, base_path)
    if legacy:
        kept_versions.add(legacy)
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
    """Load a written gold layer back as a Warehouse of DataFrames.

    If the base carries a write-audit-publish `_CURRENT` pointer, resolve
    it and read that (complete, immutable) version; otherwise read the
    legacy flat layout written by a bare write_warehouse.

    The fact's (ano, mes) partition columns exist on disk purely for
    pruning (write_warehouse denormalizes them); the canonical in-memory
    fact schema omits them, so they are dropped here — month-scoped readers
    that want pruning filter the parquet directly.

    Resolution order: generation chain head (`_ptr/`, authoritative —
    slot files exist only after their version dir is complete), then the
    legacy `_CURRENT` pointer, then the flat layout.
    """
    version = _resolve_head(spark, base_path)
    if version:
        return _read_warehouse_dir(spark, f"{base_path}/_v/{version}")
    version = _read_pointer(spark, base_path)
    if version is not None:
        return _read_warehouse_dir(spark, f"{base_path}/_v/{version}")
    return _read_warehouse_dir(spark, base_path)
