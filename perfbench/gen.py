"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed:

- ``generate_tables`` writes the sf0.1 parquet star schema by calling
  ``scripts/gen_testdata.generate`` with that module's ``SEED`` set to the
  benchmark seed (the script itself is not edited);
- ``write_xlsx`` is a minimal stdlib ``.xlsx`` writer (inline-string cells
  only, which ``p6_spark/sources/xlsx.py`` reads);
- ``ontology_records`` is a synthetic HPO term table;
- ``workbook_batch`` builds a batch of clinical workbooks with the FIXTURES.md
  edge rows and records, per workbook, the valid/rejected counts and audit
  entries the P6 pipeline must produce.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import random
import zipfile
from collections import Counter
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --------------------------------------------------------------------------
# parquet tables


def generate_tables(seed: int, out_dir: str, sf: float = 0.1) -> None:
    """sf-scaled star-schema tables, seeded: a private copy of the generator
    module gets ``SEED = seed`` before ``generate`` runs."""
    path = os.path.join(REPO, "scripts", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location(f"_perfbench_gen_{seed}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SEED = seed
    with contextlib.redirect_stdout(io.StringIO()):
        mod.generate(sf, out_dir)


# --------------------------------------------------------------------------
# xlsx writer

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "{sheets}</Types>"
)
_SHEET_TYPE = (
    '<Override PartName="/xl/worksheets/sheet{i}.xml" '
    'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def col_letters(i: int) -> str:
    """0 -> 'A', 25 -> 'Z', 26 -> 'AA'."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _sheet_xml(rows: list[list[str | None]]) -> str:
    out = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="{_NS_MAIN}"><sheetData>']
    for r, row in enumerate(rows, start=1):
        out.append(f'<row r="{r}">')
        for c, val in enumerate(row):
            if val is None:  # an absent cell reads back as None
                continue
            out.append(
                f'<c r="{col_letters(c)}{r}" t="inlineStr"><is>'
                f'<t xml:space="preserve">{escape(val)}</t></is></c>'
            )
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    return "".join(out)


def _entry(name: str) -> zipfile.ZipInfo:
    # a fixed timestamp: the same sheets give the same bytes
    info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    return info


def write_xlsx(path: str, sheets: dict[str, list[list[str | None]]]) -> None:
    """Write ``sheets`` (name -> rows of string cells, None = empty cell)."""
    names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{escape(n, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>'
        for i, n in enumerate(names, start=1)
    )
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="{_NS_REL}/worksheet" Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(names) + 1)
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            _entry("[Content_Types].xml"),
            _CONTENT_TYPES.format(
                sheets="".join(_SHEET_TYPE.format(i=i) for i in range(1, len(names) + 1))
            ),
        )
        z.writestr(_entry("_rels/.rels"), _ROOT_RELS)
        z.writestr(
            _entry("xl/workbook.xml"),
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_REL}"><sheets>{wb_sheets}</sheets></workbook>',
        )
        z.writestr(
            _entry("xl/_rels/workbook.xml.rels"),
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">{rels}</Relationships>',
        )
        for i, n in enumerate(names, start=1):
            z.writestr(_entry(f"xl/worksheets/sheet{i}.xml"), _sheet_xml(sheets[n]))


# --------------------------------------------------------------------------
# synthetic ontology

ROOT = "HP:0000118"
# named terms the FIXTURES.md rows use; every live one descends from ROOT
NAMED_TERMS = {
    "HP:0000510": "Rod-cone dystrophy",
    "HP:0001636": "Tetralogy of Fallot",
    "HP:0002240": "Hepatomegaly",
    "HP:0010952": "Abnormal hepatic lobule",
    "HP:0100753": "Schizophrenia",
}
ANCESTOR_PAIR = ("HP:0010952", "HP:0002240")  # descendant, ancestor
OBSOLETE_TERM = "HP:0031000"
ABSENT_TERM = "HP:0999999"
N_FILLER_TERMS = 400


def _letters(i: int) -> str:
    # digit-free so a "label HP:id" cell parses its label back intact
    return col_letters(i).lower()


def filler_term(i: int) -> tuple[str, str]:
    return f"HP:{1000000 + i:07d}", f"Synthetic abnormality {_letters(i)}"


def ontology_records() -> list[tuple]:
    """``(term_id, name, is_obsolete, alt_term_ids, ancestors)`` rows for
    ``p6_spark.sources.ontology.ontology_from_records``."""
    recs = [(ROOT, "Phenotypic abnormality", False, [], [])]
    for tid, name in NAMED_TERMS.items():
        anc = [ROOT, ANCESTOR_PAIR[1]] if tid == ANCESTOR_PAIR[0] else [ROOT]
        recs.append((tid, name, False, [], sorted(anc)))
    recs.append((OBSOLETE_TERM, "Obsolete synthetic term", True, ["HP:0000510"], []))
    for i in range(N_FILLER_TERMS):
        tid, name = filler_term(i)
        recs.append((tid, name, False, [], [ROOT]))
    return recs


# --------------------------------------------------------------------------
# clinical workbooks

GENO_HEADER = [
    "Searchable Patient ID", "Contact Email", "Phasing", "chrom", "start", "end",
    "ref", "alt", "gene", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance",
]
PHENO_HEADER = ["Patient ID", "HPO", "Timestamp", "Status (observed/excluded)"]
DISEASE_HEADER = ["patient_ID", "disease_term", "disease_label", "disease_onset", "disease_status"]
MEASURE_HEADER = ["patient_ID", "measurement_type", "measurement_value", "measurement_unit", "measurement_timestamp"]
BIOSAMPLE_HEADER = ["patient_ID", "biosample_id", "biosample_type", "collection_date"]
JUNK_SHEET = "severity periodicity"

GENO_STEP, PHENO_STEP, MEAS_STEP = "map_genotype", "map_phenotype", "map_measurement"
BASES = "ACGT"


@dataclass
class Expected:
    """What the P6 pipeline must report for one workbook."""

    records: Counter = field(default_factory=Counter)  # kind -> valid records
    patients: set = field(default_factory=set)  # ids with >= 1 valid record
    audit: Counter = field(default_factory=Counter)  # (step, level) -> rows
    input_rows: int = 0

    def stats(self) -> dict[str, int]:
        """The dict ``MappingResult.stats()`` must return."""
        out = {f"n_{k}": v for k, v in self.records.items()}
        out["n_patients"] = len(self.patients)
        return out


@dataclass
class Workbook:
    path: str
    n_patients: int
    expected: Expected


def _geno_row(rng, pid, chrom_cell, pos, *, zyg="het", inh="inherited", email=True,
              bed=False, hgvs_pos=None):
    ref = rng.choice(BASES)
    alt = rng.choice([b for b in BASES if b != ref])
    g_chrom = chrom_cell.removeprefix("chr")
    return [
        pid,
        f"{pid.lower()}@example.com" if email else None,
        rng.choice(["Phased", "Unphased", "1", "0", "true"]),
        chrom_cell,
        str(pos - 1 if bed else pos),
        str(pos),
        ref,
        alt,
        f"GENE{rng.randrange(1, 50)}",
        f"{g_chrom}:g.{hgvs_pos or pos}{ref}>{alt}",
        f"NM_{rng.randrange(10**5, 10**6)}.1:c.{rng.randrange(1, 3000)}{ref}>{alt}",
        f"NP_{rng.randrange(10**5, 10**6)}.1:p.Lys{rng.randrange(1, 900)}Asn",
        zyg,
        inh,
    ]


def _pheno_cell(rng, tid, name):
    digits = tid.split(":")[1]
    return rng.choice([
        tid,
        f"HP:{int(digits)}",
        str(int(digits)),
        f"hp {digits}",
        f"{name} {tid} ",
    ])


def build_workbook(rng: random.Random, wb_index: int, n_patients: int) -> tuple[dict, Expected]:
    """Sheets of one workbook plus the pipeline's expected output."""
    exp = Expected()
    pids = [f"W{wb_index}P{i}" for i in range(n_patients)]
    chroms = [str(c) for c in range(1, 23)] + ["X"]
    live_terms = list(NAMED_TERMS.items()) + [filler_term(i) for i in range(N_FILLER_TERMS)]

    geno = [GENO_HEADER]
    pheno = [PHENO_HEADER]
    dis = [DISEASE_HEADER]
    meas = [MEASURE_HEADER]
    bio = [BIOSAMPLE_HEADER]

    def chrom():
        c = rng.choice(chroms)
        return c if rng.random() < 0.5 else f"chr{c}"

    def pos():
        return rng.randrange(1_000, 200_000_000)

    for pid in pids:
        # one valid single-token variant per patient
        geno.append(_geno_row(rng, pid, chrom(), pos(),
                              zyg=rng.choice(["het", "hom", "hemi"]),
                              inh=rng.choice(["inherited", "denovo", "unknown"])))
        exp.records["genotype"] += 1
        exp.patients.add(pid)
        for _ in range(rng.randrange(1, 4)):
            tid, name = rng.choice(live_terms)
            pheno.append([pid, _pheno_cell(rng, tid, name),
                          rng.choice(["T0", "T1", "2020", "20200101"]),
                          rng.choice(["O", "E", "1", "0", "yes"])])
            exp.records["phenotype"] += 1
        if rng.random() < 0.5:
            dis.append([pid, f"OMIM:{rng.randrange(100000, 999999)}",
                        rng.choice(["", "Synthetic disorder"]),
                        f"20{rng.randrange(10, 24)}-0{rng.randrange(1, 10)}-1{rng.randrange(0, 9)}",
                        rng.choice(["true", "false", "1"])])
            exp.records["diseases"] += 1
        if rng.random() < 0.5:
            meas.append([pid, "LOINC:4548-4", f"{rng.uniform(3, 12):.2f}", "%",
                         rng.choice([None, "T0", "2021"])])
            exp.records["measurements"] += 1
        if rng.random() < 0.3:
            bio.append([pid, f"{pid}S1", "UBERON:0002107", rng.choice(["T0", "20210101", ""])])
            exp.records["biosamples"] += 1

    # FIXTURES.md edge rows, attached to existing patients
    p = pids[0]
    geno.append(_geno_row(rng, p, "16", pos(), zyg="het/hom", inh="inherited/denovo"))
    exp.records["genotype"] += 2  # positional zip
    geno.append(_geno_row(rng, p, "16", pos(), zyg="het/hom/hemi/mosaic/comphet",
                          inh="inherited/denovo/unknown"))
    exp.records["genotype"] += 3  # truncated to the shorter list
    geno.append(_geno_row(rng, p, "chr2", pos(), bed=True))
    exp.records["genotype"] += 1  # BED-like coordinates pass
    mismatch = pos()
    geno.append(_geno_row(rng, p, "3", mismatch, hgvs_pos=mismatch + 7))
    exp.records["genotype"] += 1  # kept, with a consistency warning
    exp.audit[(GENO_STEP, "warning")] += 1
    geno.append(_geno_row(rng, p, "4", pos(), email=False))
    exp.records["genotype"] += 1  # email defaulted
    geno.append(_geno_row(rng, p, "5", pos(), zyg="xyz"))
    exp.audit[(GENO_STEP, "error")] += 1  # unknown zygosity: row rejected
    row = _geno_row(rng, p, "6", pos())
    row[3] = ""  # missing chromosome: rejected, and disagrees with its g. string
    geno.append(row)
    exp.audit[(GENO_STEP, "error")] += 1
    exp.audit[(GENO_STEP, "warning")] += 1
    geno.append(_geno_row(rng, f"BAD-ID{wb_index}", "7", pos()))
    exp.audit[(GENO_STEP, "error")] += 1  # non-alphanumeric patient ID

    a, b = ANCESTOR_PAIR
    pheno += [
        [p, "NAD", "T0", "O"],  # skipped with a warning
        [p, "Label (HP:510)", "T0", "O"],  # kept; label mismatch warning
        [p, OBSOLETE_TERM, "T1", "E"],  # kept; obsolete warning
        [p, ABSENT_TERM, "T1", "O"],  # kept; not-in-ontology warning
        [p, "??", "T0", "O"],  # unparseable: rejected
        [p, a, "T0", "O"],  # descendant + ancestor in one sheet:
        [p, b, "T0", "O"],  # one propagation warning
    ]
    exp.records["phenotype"] += 5
    exp.audit[(PHENO_STEP, "warning")] += 5
    exp.audit[(PHENO_STEP, "error")] += 1

    meas.append([p, "LOINC:4548-4", "n/a", "%", None])
    exp.audit[(MEAS_STEP, "error")] += 1  # non-numeric value: rejected

    for sheet in (geno, pheno, dis, meas, bio):
        exp.input_rows += len(sheet) - 1
    sheets = {
        "genotype": geno,
        "phenotype": pheno,
        "diseases": dis,
        "measurements": meas,
        "biosamples": bio,
        JUNK_SHEET: [["to be designed"]],
    }
    return sheets, exp


# per-batch workbook sizes: fixed, so every seed does the same amount of work
BATCH_SIZES = (24, 48, 96, 192, 300)


def workbook_batch(seed: int, out_dir: str) -> list[Workbook]:
    """Write the seeded workbook batch; returns it in a seeded order."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    books = []
    for i, n in enumerate(BATCH_SIZES):
        sheets, exp = build_workbook(rng, i, n)
        path = os.path.join(out_dir, f"workbook_{i}.xlsx")
        write_xlsx(path, sheets)
        books.append(Workbook(path=path, n_patients=n, expected=exp))
    rng.shuffle(books)
    return books
