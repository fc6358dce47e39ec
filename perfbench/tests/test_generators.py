"""The generators are deterministic in their seed and carry the edge cases
the Walmart ETL and the dedup operators depend on."""

import csv
import datetime as dt
import hashlib

import docs_gen
import pyarrow.parquet as pq
import walmart_gen

FILES = ("stores", "features", "train", "test")


def _digest(d) -> str:
    h = hashlib.sha256()
    for name in FILES:
        h.update((d / f"{name}.csv").read_bytes())
    return h.hexdigest()


def test_walmart_same_seed_same_bytes(tmp_path):
    walmart_gen.generate(str(tmp_path / "a"), 7, 0.02)
    walmart_gen.generate(str(tmp_path / "b"), 7, 0.02)
    walmart_gen.generate(str(tmp_path / "c"), 8, 0.02)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_walmart_real_size_row_counts(tmp_path):
    counts = walmart_gen.generate(str(tmp_path), 1, 1.0)
    assert counts == {"stores": 45, "features": 8190, "train": 421_570, "test": 115_064}


def _rows(path):
    with open(path) as f:
        return list(csv.DictReader(f))


def test_walmart_edge_cases(tmp_path):
    walmart_gen.generate(str(tmp_path), 3, 0.02)
    features = _rows(tmp_path / "features.csv")
    train = _rows(tmp_path / "train.csv")
    stores = {r["Store"] for r in _rows(tmp_path / "stores.csv")}

    early = [r for r in features if dt.date.fromisoformat(r["Date"]) < walmart_gen.MARKDOWN_START]
    late = [r for r in features if dt.date.fromisoformat(r["Date"]) >= walmart_gen.MARKDOWN_START]
    tail = [r for r in features if dt.date.fromisoformat(r["Date"]) >= walmart_gen.CPI_NA_FROM]
    assert all(r[f"MarkDown{k}"] == "NA" for r in early for k in range(1, 6))
    assert 0 < sum(r["MarkDown1"] == "NA" for r in late) < len(late)
    assert tail and all(r["CPI"] == "NA" and r["Unemployment"] == "NA" for r in tail)

    sales = [r["Weekly_Sales"] for r in train]
    assert "NA" in sales
    assert any(s != "NA" and float(s) < 0 for s in sales)
    series = {}
    for r in train:
        series[(r["Store"], r["Dept"])] = series.get((r["Store"], r["Dept"]), 0) + 1
    assert min(series.values()) < 5
    assert {r["Store"] for r in train} - stores == {str(walmart_gen.MISSING_STORE)}


def test_docs_deterministic_with_duplicates(tmp_path):
    docs_gen.generate(str(tmp_path / "a.parquet"), 5, 2000)
    docs_gen.generate(str(tmp_path / "b.parquet"), 5, 2000)
    docs_gen.generate(str(tmp_path / "c.parquet"), 6, 2000)
    a = pq.read_table(tmp_path / "a.parquet")
    assert a.equals(pq.read_table(tmp_path / "b.parquet"))
    assert not a.equals(pq.read_table(tmp_path / "c.parquet"))
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts)
    assert any(t.endswith(" dup") for t in texts)
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]
