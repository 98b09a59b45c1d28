"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of their seed:

* monthly lançamentos uploads (Brazilian-locale CSV) for the star-schema
  load path, with the expected warehouse contents computed here in plain
  Python, independently of Spark;
* TPC-H-shaped parquet tables (plus a ``documents`` corpus) for the
  catalog queries, in the column layout the catalog reads.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ lançamentos

CSV_HEADER = ["Descrição", "Tipo", "Grupo", "Categoria", "Classificação", "Data", "Valor"]

# tipo -> grupos: 3 tipos, 20 grupos
HIERARCHY = {
    "Receita": ["Salário", "Pró-labore", "Aluguéis recebidos", "Rendimentos", "Doações recebidas"],
    "Despesa": [
        "Alimentação", "Habitação", "Saúde", "Educação", "Transporte",
        "Lazer", "Vestuário", "Serviços", "Impostos", "Previdência",
    ],
    "Investimento": ["Ações", "Fundos imobiliários", "Tesouro Direto", "Poupança", "Câmbio"],
}
CATEGORY_SUFFIXES = ["Básico", "Extraordinário", "Mensal", "Ocasional"]  # 4 per grupo
CLASSIFICACOES = ["Fixa", "Variável", "Eventual"]
MERCHANTS = [
    "Pão de Açúcar", "Padaria São João", "Farmácia Drogasil", "Posto Ipiranga",
    "Açougue Bom Preço", "Livraria Cultura", "Condomínio Edifício Aurora",
    "Companhia Energética", "Óticas Visão", "Clínica Saúde & Vida",
    "Escola Técnica Paulista", "Restaurante Sabor Mineiro", "Uber Viagens",
    "Corretora Ágora", "Câmbio Turístico", "Prefeitura Municipal",
]

CATEGORIES = [
    (tipo, grupo, f"{grupo} – {suffix}")
    for tipo, grupos in HIERARCHY.items()
    for grupo in grupos
    for suffix in CATEGORY_SUFFIXES
]


def brl(cents: int) -> str:
    """Integer cents -> Brazilian money text, e.g. 123456 -> '1.234,56'."""
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


@dataclass
class Batch:
    """One monthly upload: its CSV rows plus what loading it must produce."""

    ano: int
    mes: int
    rows: list[list[str]]
    n_valid: int = 0
    n_invalid: int = 0
    # business key -> (tipo, grupo, categoria, classificacao, valor, descricao)
    facts: dict[tuple, tuple] = field(default_factory=dict)


def make_batch(seed: int, ano: int, mes: int, n_rows: int) -> Batch:
    """A month of lançamentos. About 1% of rows carry a blank or
    whitespace-only field (they must be quarantined) and about 2% are exact
    copies of an earlier row (they must collapse on the business key)."""
    rng = random.Random(f"{seed}:{ano}:{mes}")
    data = f"{mes:02d}/{ano}"
    out = Batch(ano, mes, [])
    for _ in range(n_rows):
        if out.rows and rng.random() < 0.02:
            out.rows.append(list(rng.choice(out.rows)))
            continue
        tipo, grupo, cat = rng.choice(CATEGORIES)
        desc = f"{rng.choice(MERCHANTS)} nº {rng.randrange(10_000)}"
        row = [desc, tipo, grupo, cat, rng.choice(CLASSIFICACOES), data,
               brl(rng.randrange(100, 2_000_000))]
        if rng.random() < 0.01:
            row[rng.randrange(len(row))] = rng.choice(["", "   "])
        out.rows.append(row)
    for row in out.rows:
        if any(not v.strip() for v in row):
            out.n_invalid += 1
            continue
        out.n_valid += 1
        desc, tipo, grupo, cat, clas, data_, valor = row
        amount = Decimal(valor.replace(".", "").replace(",", "."))
        key = (tipo.lower(), grupo.lower(), cat.lower(), data_, desc.lower(), str(amount))
        out.facts.setdefault(key, (tipo, grupo, cat, clas, amount, desc))
    return out


def write_batch_csv(batches: list[Batch], path: str) -> int:
    """Write batches as one upload CSV; returns its size in bytes."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(CSV_HEADER)
        for batch in batches:
            w.writerows(batch.rows)
    return os.path.getsize(path)


class Ledger:
    """Expected gold contents after a sequence of uploads, derived from the
    generated rows alone (the insert-if-absent contract: a fact is new when
    its business key was never loaded before)."""

    def __init__(self) -> None:
        self.facts: dict[tuple, tuple] = {}
        self.months: set[tuple[int, int]] = set()

    def load(self, batch: Batch) -> int:
        """Record an upload; returns how many fact rows it must insert."""
        new = {k: v for k, v in batch.facts.items() if k not in self.facts}
        self.facts.update(new)
        self.months.add((batch.ano, batch.mes))
        return len(new)

    def fact_month(self, key: tuple) -> tuple[int, int]:
        mes, ano = key[3].split("/")
        return int(ano), int(mes)

    def counts(self) -> dict[str, int]:
        vals = list(self.facts.values())
        return {
            "dim_tempo": len({self.fact_month(k) for k in self.facts}),
            "dim_tipo": len({v[0] for v in vals}),
            "dim_grupo": len({(v[0], v[1]) for v in vals}),
            "dim_categoria": len({(v[0], v[1], v[2]) for v in vals}),
            "dim_classificacao": len({v[3] for v in vals}),
            "fato_lancamento": len(vals),
        }

    def sums_by_month_tipo(self) -> dict[tuple[int, int, str], Decimal]:
        out: dict[tuple[int, int, str], Decimal] = {}
        for k, v in self.facts.items():
            ano, mes = self.fact_month(k)
            key = (ano, mes, v[0])
            out[key] = out.get(key, Decimal(0)) + v[4]
        return out

    def drilldown(self, ano: int, mes: int) -> dict[tuple[str, str], tuple[int, Decimal]]:
        """(grupo, categoria) -> (rows, total) for one month."""
        out: dict[tuple[str, str], tuple[int, Decimal]] = {}
        for k, v in self.facts.items():
            if self.fact_month(k) == (ano, mes):
                n, s = out.get((v[1], v[2]), (0, Decimal(0)))
                out[(v[1], v[2])] = (n + 1, s + v[4])
        return out

    def by_year_classificacao(self) -> dict[tuple[int, str], Decimal]:
        out: dict[tuple[int, str], Decimal] = {}
        for k, v in self.facts.items():
            key = (self.fact_month(k)[0], v[3])
            out[key] = out.get(key, Decimal(0)) + v[4]
        return out

    def top_categorias(self, n: int) -> list[tuple[str, Decimal]]:
        tot: dict[str, Decimal] = {}
        for v in self.facts.values():
            tot[v[2]] = tot.get(v[2], Decimal(0)) + v[4]
        return sorted(tot.items(), key=lambda kv: (-kv[1], kv[0]))[:n]


def month_seq(start_ano: int, start_mes: int, n: int) -> list[tuple[int, int]]:
    out = []
    a, m = start_ano, start_mes
    for _ in range(n):
        out.append((a, m))
        a, m = (a + 1, 1) if m == 12 else (a, m + 1)
    return out


# ---------------------------------------------------------- catalog tables

_EPOCH = dt.datetime(1970, 1, 1)
_D0 = (dt.datetime(1995, 1, 1) - _EPOCH).days
_D1 = (dt.datetime(2001, 8, 1) - _EPOCH).days
_DAY_US = 86_400_000_000
_WORDS = (
    "a the big small fast slow data table row column join hash scan filter "
    "agg sort merge window group key value part line order customer query "
    "batch stream vector spark"
).split()


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale ``sf`` (lineitem ~6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    odate = rng.integers(_D0, _D1 + 1, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li)),
    })
    return t


def documents_table(seed: int, n_docs: int = 500, n_sources: int = 20) -> pa.Table:
    """Short word-salad documents over a 31-word vocabulary, so documents of
    one source share most character 3-grams (the near-duplicate regime)."""
    rng = np.random.default_rng(seed)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n_docs)]
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % n_sources}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
