import hashlib
import os

import pyarrow.parquet as pq

from p6_spark.sources.xlsx import read_xlsx
from perfbench import gen


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_workbook_batch_is_a_function_of_the_seed(tmp_path, monkeypatch):
    a = gen.workbook_batch(5, str(tmp_path / "a"))
    # a zip entry stamped with the wall clock would change the bytes
    monkeypatch.setattr("time.time", lambda: 4e9)
    monkeypatch.setattr("time.localtime", lambda *_: (2096, 10, 1, 0, 0, 0, 0, 0, 0))
    b = gen.workbook_batch(5, str(tmp_path / "b"))
    c = gen.workbook_batch(6, str(tmp_path / "c"))
    assert [os.path.basename(w.path) for w in a] == [os.path.basename(w.path) for w in b]
    assert _digest(w.path for w in a) == _digest(w.path for w in b)
    assert [w.expected for w in a] == [w.expected for w in b]
    assert _digest(w.path for w in a) != _digest(w.path for w in c)
    assert sorted(w.n_patients for w in a) == sorted(gen.BATCH_SIZES)


def test_workbook_reads_back_through_the_stdlib_reader(tmp_path):
    book = gen.workbook_batch(1, str(tmp_path))[0]
    sheets = read_xlsx(book.path)
    assert list(sheets) == ["genotype", "phenotype", "diseases", "measurements",
                            "biosamples", gen.JUNK_SHEET]
    assert sheets["genotype"][0] == gen.GENO_HEADER
    assert sheets[gen.JUNK_SHEET] == [["to be designed"]]
    data_rows = sum(len(rows) - 1 for name, rows in sheets.items() if name != gen.JUNK_SHEET)
    assert data_rows == book.expected.input_rows
    # the missing-chromosome edge row keeps an empty (not absent) cell
    assert any(r[3] == "" for r in sheets["genotype"][1:])
    # the null-email edge row reads back as an absent cell
    assert any(r[1] is None for r in sheets["genotype"][1:])


def test_expected_counts_cover_the_edge_rows(tmp_path):
    exp = gen.workbook_batch(2, str(tmp_path))[0].expected
    assert exp.audit[(gen.GENO_STEP, "error")] == 3
    assert exp.audit[(gen.PHENO_STEP, "warning")] == 5
    assert exp.stats()["n_patients"] == len(exp.patients)
    assert not any(p.startswith("BAD") for p in exp.patients)


def test_xlsx_writer_escapes_and_preserves_spaces(tmp_path):
    path = str(tmp_path / "w.xlsx")
    cells = [["a<b&c", " padded ", None, "x"], ["1"] + [None] * 26 + ["AB"]]
    gen.write_xlsx(path, {"s & t": cells})
    got = read_xlsx(path)["s & t"]
    assert got[0][:4] == ["a<b&c", " padded ", None, "x"]
    assert got[1][27] == "AB" and gen.col_letters(27) == "AB"


def test_ontology_has_the_fixture_terms():
    recs = {r[0]: r for r in gen.ontology_records()}
    for t in ("HP:0000510", "HP:0001636", "HP:0010952", "HP:0002240", "HP:0100753"):
        assert gen.ROOT in recs[t][4]
    assert recs[gen.OBSOLETE_TERM][2] is True
    desc, anc = gen.ANCESTOR_PAIR
    assert anc in recs[desc][4]
    assert gen.ABSENT_TERM not in recs


def test_tables_are_a_function_of_the_seed(tmp_path):
    def load(seed, d):
        out = str(tmp_path / d)
        gen.generate_tables(seed, out, sf=0.001)
        return {n: pq.read_table(os.path.join(out, n)) for n in sorted(os.listdir(out))}

    a, b, c = load(3, "a"), load(3, "b"), load(4, "c")
    assert a.keys() == b.keys() and all(a[n].equals(b[n]) for n in a)
    assert not a["orders.parquet"].equals(c["orders.parquet"])
