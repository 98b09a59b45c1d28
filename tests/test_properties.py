"""Property-based tests (hypothesis) for the reference-parity hot spots.

Each property drives a batch of generated cases through ONE Spark job (the
strategies produce whole row-lists) so shrinking stays fast.

Properties:
* locale money parse: Spark's regexp pipeline == the reference's
  pandas/Decimal algorithm (app/utils.py:5-14) for any Decimal(15,2) amount
  rendered in Brazilian format, with/without thousands separators.
* business-key hash: Spark md5(concat_ws(...)) == hashlib.md5 over the
  reference's exact canonicalization (app/utils.py:16-25) for arbitrary
  printable field content (incl. unicode, inner whitespace).
* upsert idempotence: insert_if_absent twice == once, for any batch with
  arbitrary key duplication (the ON CONFLICT DO NOTHING net-effect law,
  app/etl.py:48-129).
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_lorettoscarpa_1asfb2jf21_spark.functions.hashing import business_key_hash
from etl_lorettoscarpa_1asfb2jf21_spark.functions.locale import normalize_valor
from etl_lorettoscarpa_1asfb2jf21_spark.operators.upsert import insert_if_absent

SLOW = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

amounts = st.decimals(
    min_value=Decimal("-9999999999999.99"),
    max_value=Decimal("9999999999999.99"),
    places=2,
)


def brl_format(d: Decimal, thousands: bool) -> str:
    """Render a Decimal the way the reference's input CSVs do."""
    sign = "-" if d < 0 else ""
    q = abs(d)
    intpart, frac = divmod(q, 1)
    int_s = str(int(intpart))
    if thousands:
        groups = []
        while len(int_s) > 3:
            groups.insert(0, int_s[-3:])
            int_s = int_s[:-3]
        int_s = ".".join([int_s] + groups)
    return f"{sign}{int_s},{int(frac * 100):02d}"


@given(st.lists(st.tuples(amounts, st.booleans()), min_size=1, max_size=50))
@SLOW
def test_brl_parse_matches_decimal(spark, cases):
    rows = [(i, brl_format(d, t)) for i, (d, t) in enumerate(cases)]
    out = (
        spark.createDataFrame(rows, "i long, Valor string")
        .select("i", normalize_valor("Valor").alias("v"))
        .collect()
    )
    got = {r["i"]: r["v"] for r in out}
    for i, (d, _) in enumerate(cases):
        assert got[i] == d, (i, cases[i], got[i])


# bias toward the whitespace set where Python str.strip() and SQL trim
# diverge (tab/newline/NBSP/ideographic space) — the parity trap this
# property exists to catch
fields = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
        st.sampled_from("\t\n\r\x0b\x0c\xa0    　 Aá"),
    ),
    min_size=0,
    max_size=30,
)


def reference_hash(tipo, grupo, categoria, data, descricao, valor) -> str:
    """The reference's gerar_hash, verbatim algorithm (app/utils.py:16-25):
    strip+lower on Tipo/Grupo/Categoria/Descrição, strip ONLY on Data,
    raw str() on Valor; joined with '-', md5 of utf-8."""
    base = (
        str(tipo).strip().lower()
        + "-"
        + str(grupo).strip().lower()
        + "-"
        + str(categoria).strip().lower()
        + "-"
        + str(data).strip()
        + "-"
        + str(descricao).strip().lower()
        + "-"
        + str(valor)
    )
    return hashlib.md5(base.encode("utf-8")).hexdigest()


@given(st.lists(st.tuples(fields, fields, fields, fields, fields, fields), min_size=1, max_size=30))
@SLOW
def test_business_key_hash_property(spark, rows_in):
    rows = [(i, *map(str, r)) for i, r in enumerate(rows_in)]
    schema = "i long, Tipo string, Grupo string, Categoria string, Data string, Descricao string, Valor string"
    out = (
        spark.createDataFrame(rows, schema)
        .select("i", business_key_hash().alias("h"))
        .collect()
    )
    got = {r["i"]: r["h"] for r in out}
    for i, r in enumerate(rows_in):
        assert got[i] == reference_hash(*r), (i, r)


keys = st.integers(min_value=0, max_value=9)


@given(
    st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=30),
    st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=30),
)
@SLOW
def test_upsert_idempotence_property(spark, existing_rows, batch_rows):
    existing = (
        spark.createDataFrame(existing_rows, "k long, v long").dropDuplicates(["k"])
        if existing_rows
        else None
    )
    batch = spark.createDataFrame(batch_rows, "k long, v long") if batch_rows else None
    if batch is None:
        return
    once = insert_if_absent(batch, existing, ["k"])
    # law 1: inserted keys are exactly batch-keys minus existing-keys, one row per key
    existing_keys = {k for k, _ in existing_rows}
    expect_keys = {k for k, _ in batch_rows} - existing_keys
    got = once.collect()
    assert {r["k"] for r in got} == expect_keys
    assert len(got) == len(expect_keys)
    # law 2: re-running against the grown target inserts nothing
    target = existing.unionByName(once) if existing is not None else once
    again = insert_if_absent(batch, target, ["k"])
    assert again.count() == 0


snap_keys = st.integers(0, 5)
snap_vals = st.sampled_from(["a", "b", "c"])


@given(
    st.lists(  # 1-3 successive snapshots, each a small key->value map
        st.dictionaries(snap_keys, snap_vals, min_size=1, max_size=6),
        min_size=1,
        max_size=3,
    )
)
@SLOW
def test_scd2_matches_sequential_reference(spark, snapshots):
    """scd2_init + repeated scd2_merge == a sequential dict-based SCD2 for
    any snapshot sequence (inserts, changes, re-changes, absences,
    identical re-uploads)."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.scd import scd2_init, scd2_merge

    dates = ["2024-01-01", "2024-02-01", "2024-03-01"]

    # sequential reference: closed rows + live dict
    closed: list[tuple] = []  # (k, v, valid_from, valid_to)
    live: dict[int, tuple] = {}  # k -> (v, valid_from)
    for d, snap in zip(dates, snapshots):
        for k, v in snap.items():
            if k not in live:
                live[k] = (v, d)
            elif live[k][0] != v:
                closed.append((k, live[k][0], live[k][1], d))
                live[k] = (v, d)
    expected = {(k, v, f, t, False) for k, v, f, t in closed} | {
        (k, v, f, None, True) for k, (v, f) in live.items()
    }

    dim = scd2_init(
        spark.createDataFrame(list(snapshots[0].items()), "k long, v string"),
        dates[0],
    )
    for d, snap in zip(dates[1:], snapshots[1:]):
        dim = scd2_merge(
            dim,
            spark.createDataFrame(list(snap.items()), "k long, v string"),
            ["k"],
            ["v"],
            d,
        )
    got = {
        (
            r["k"],
            r["v"],
            str(r["valid_from"]),
            None if r["valid_to"] is None else str(r["valid_to"]),
            r["is_current"],
        )
        for r in dim.collect()
    }
    assert got == expected


# ---------------------------------------------------------- graph property

@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=60,
    ),
    st.integers(min_value=16, max_value=40),
)
def test_connected_components_star_matches_union_find(
    spark, union_find_components, edges, n_nodes
):
    """For ANY random graph (self-loops, duplicate/reversed edges, isolated
    nodes, edge endpoints missing from ``nodes`` included), the large-star/
    small-star closure must produce exactly the component labeling of a
    sequential union-find. Missing endpoints are labelled unless their
    only edges are self-loops."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import (
        connected_components_star,
    )

    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(nodes_df, edges_df).collect()
    }
    assert got == union_find_components(range(n_nodes), edges)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(
    spark, union_find_components, edge_list
):
    """The dedup entry point ``duplicate_clusters`` (custom id and pair
    columns) must group any random pair list over 25 docs exactly like
    sequential union-find: cluster id = min id of the component, and
    ``is_canonical`` only on that min id."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import (
        duplicate_clusters,
    )

    n = 25
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edge_list, "left_id long, right_id long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in duplicate_clusters(
            docs, pairs, "doc_id", pair_a="left_id", pair_b="right_id"
        ).collect()
    }
    want = union_find_components(range(n), edge_list)
    assert got == {x: (c, x == c) for x, c in want.items()}


def test_connected_components_star_long_chain(spark):
    """A 40-node path graph — the adversarial shape for plain label
    propagation — must fully contract to component 0."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import (
        connected_components_star,
    )

    n = 40
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(nodes_df, edges_df).collect()
    }
    assert got == {i: 0 for i in range(n)}


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0, 1, 2, 3, 5, 8]),
)
@example([], 3)
def test_pagerank_scaled_matches_recurrence(spark, pagerank_recurrence, edges, n_iter):
    """For ANY directed graph (dangling nodes, nodes with no in-edges,
    self-loops and duplicate edges included) and any step count, the ranks
    equal the sequential scaled-integer recurrence, one row per edge
    endpoint; an empty edge list gives no rows."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.graph import pagerank_scaled

    edges_df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank_scaled(edges_df, n_iter=n_iter).collect()
    got = {r["node"]: r["rank"] for r in rows}
    assert len(rows) == len(got)
    assert got == pagerank_recurrence(edges, n_iter)


# ---------------------------------------------------------- near-dup clusters

# Fixed rows every generated corpus carries, past its random rows: two
# identical texts, and a J = 2/10 = 0.2 pair ("abcd" ⊂ "abcdefghijkl")
# next to a J = 2/11 one, at the catalog threshold.
_NEARDUP_FIXED = [
    ("a", "spark arrow row"),
    ("a", "spark arrow row"),
    ("edge", "abcd"),
    ("edge", "abcdefghijkl"),
    ("edge2", "abcd"),
    ("edge2", "abcdefghijklm"),
]
_NEARDUP_WORDS = ["spark", "sparkle", "park", "arrow", "row", "ark"]


@SLOW
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),
            st.one_of(
                st.none(),
                st.sampled_from(["", "ab", "  AB "]),
                st.lists(st.sampled_from(_NEARDUP_WORDS), min_size=1, max_size=5).map(
                    " ".join
                ),
            ),
        ),
        max_size=30,
    )
)
def test_ngram_jaccard_clusters_match_oracle(spark, ngram_clusters_oracle, rows):
    """For ANY blocked corpus (NULL blocks, NULL texts, texts shorter than
    n, identical texts, a pair at exactly J = 0.2), the grouped kernel
    gives exactly the components of the plain-Python Jaccard pairs: one
    row per document, cluster id = min id, canonical only on that id."""
    from etl_lorettoscarpa_1asfb2jf21_spark.operators.dedup import (
        ngram_jaccard_clusters,
    )

    docs = [(i, b, t) for i, (b, t) in enumerate(rows + _NEARDUP_FIXED)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = ngram_jaccard_clusters(
        df, "text", "doc_id", "source", n=3, threshold=0.2
    ).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out}
    assert len(out) == len(docs)
    want = ngram_clusters_oracle(docs, 3, 0.2)
    assert got == {x: (c, x == c) for x, c in want.items()}
    k = len(rows)
    assert got[k][0] == got[k + 1][0]  # identical texts
    assert got[k + 2][0] == got[k + 3][0]  # J = 0.2 exactly
    assert got[k + 4][0] != got[k + 5][0]  # J = 2/11
