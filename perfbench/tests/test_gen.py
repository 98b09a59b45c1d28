"""The generators are a pure function of their seed, and the ledger
predicts what loading their uploads must produce."""

from perfbench import gen


def test_batches_are_deterministic():
    a = gen.make_batch(7, 2023, 1, 2000)
    b = gen.make_batch(7, 2023, 1, 2000)
    c = gen.make_batch(8, 2023, 1, 2000)
    assert a.rows == b.rows and a.facts == b.facts
    assert a.rows != c.rows


def test_batch_has_blanks_and_duplicates():
    b = gen.make_batch(3, 2023, 5, 10_000)
    assert 50 <= b.n_invalid <= 200            # about 1% blank fields
    assert b.n_valid + b.n_invalid == 10_000
    dup = b.n_valid - len(b.facts)             # about 2% exact copies
    assert 100 <= dup <= 300
    assert all(r[5] == "05/2023" for r in b.rows if r[5].strip())


def test_ledger_reupload_inserts_nothing():
    led = gen.Ledger()
    jan, feb = gen.make_batch(1, 2023, 1, 500), gen.make_batch(1, 2023, 2, 500)
    assert led.load(jan) == len(jan.facts)
    assert led.load(feb) == len(feb.facts)
    before = led.counts()
    assert led.load(jan) == 0
    assert led.counts() == before
    assert before["dim_tempo"] == 2 and before["dim_tipo"] == 3
    assert sum(led.sums_by_month_tipo().values()) == sum(v[4] for v in led.facts.values())


def test_brl_format():
    assert gen.brl(123456) == "1.234,56"
    assert gen.brl(100) == "1,00"
    assert gen.brl(123456789) == "1.234.567,89"


def test_tables_are_deterministic():
    a, b = gen.catalog_tables(5, 0.001), gen.catalog_tables(5, 0.001)
    c = gen.catalog_tables(6, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert gen.documents_table(42).equals(gen.documents_table(42))


def test_csv_round_trip(tmp_path):
    import csv

    b = gen.make_batch(2, 2023, 3, 200)
    path = tmp_path / "up.csv"
    size = gen.write_batch_csv([b], str(path))
    assert size == path.stat().st_size
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    assert rows[0] == gen.CSV_HEADER and rows[1:] == b.rows
