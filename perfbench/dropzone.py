"""Seeded generator of a reference-shaped clinical drop zone.

Writes the ten source files of FIXTURES.md (clinic, studies and
laboratory sources), three ``\\r``-terminated codebooks, a ``.sha1``
sidecar beside every data file, plus a ``sources_config.json`` and an
``ontology_config.json`` in the reference's own format. The same seed
gives a byte-identical tree.

The generator keeps its rows in memory, so the number of
``observation_fact`` rows each concept must get after sources2csr and
csr2transmart is computed here in pure Python (``expected_counts``),
independently of the engine. ``change_one_row`` edits a single source
row in place (and its sidecar) to drive the incremental DAG pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]

RDP_PATIENT = "clinic/RDP-Patient.tsv"
RDP_IC = "clinic/RDP-IC.tsv"
INDIVIDUAL = "studies/individual.csv"
DIAGNOSIS = "studies/diagnosis.csv"
DEATH = "studies/death.csv"
STUDY = "studies/study.csv"
INDIVIDUAL_STUDY = "studies/individual_study.csv"
BIOSOURCE = "laboratory/biosource.tsv"
BIOMATERIAL = "laboratory/biomaterial.tsv"
RADIOLOGY = "laboratory/radiology.tsv"
CB_RDP = "clinic/RDP-Patient_codebook.tsv"
CB_INDIVIDUAL = "studies/individual_codebook.tsv"
CB_DIAGNOSIS = "studies/diagnosis_codebook.tsv"

CSV_FILES = (INDIVIDUAL, DIAGNOSIS, DEATH, STUDY, INDIVIDUAL_STUDY)

IC_STATUS = ["expliciete toestemming", "geen toestemming",
             "mogelijke kandidaat", "geïnformeerd door studieteam"]
HOSPITALS = {"200": "AMC", "201": "UMCG", "204": "ErasmusMC",
             "208": "LUMC", "214": "Radboudumc", "217": "UMCU",
             "220": "PMC"}
TUMOR_TYPES = {"95913": "Malignant lymphoma, non-Hodgkin",
               "97053": "Angioimmunoblastic T-cell lymphoma",
               "80000": "Neoplasm, benign",
               "94703": "Medulloblastoma, NOS"}
TOPOGRAPHY = {"421": "bone marrow", "771": "intrathoracic lymph nodes",
              "778": "lymph nodes of multiple regions",
              "716": "cerebellum, NOS"}
TISSUES = ["liver", "bone marrow", "blood", "brain", "lymph node"]
BIOMATERIAL_TYPES = ["total RNA", "genomic DNA"]
LIBRARY_STRATEGIES = ["WGS", "WXS", "RNA-Seq", "Targeted"]
ANALYSIS_TYPES = ["CNV", "SNV", "Fusion"]
IMAGE_TYPES = ["MRI", "CT", "PET"]
BODY_PARTS = ["head", "thorax", "abdomen", "pelvis"]

#: stage-3 concepts and the source columns they are merged from, in
#: priority order: (file, column). Mirrors the config written below and
#: ``plans.transmart.OBS_ATTRS``.
INDIVIDUAL_CONCEPTS = {
    "birth_date": [(RDP_PATIENT, "Gebdat"), (INDIVIDUAL, "DTOB")],
    "gender": [(RDP_PATIENT, "Geslacht"), (INDIVIDUAL, "SEX")],
    "death_date": [(RDP_PATIENT, "Overldat"), (DEATH, "DTDEATH")],
    "ic_type": [(RDP_IC, "00004_Toestemmingsstatus"),
                (INDIVIDUAL, "IFCDATR")],
    "ic_given_date": [(RDP_IC, "00007_Datum toestemming")],
    "ic_withdrawn_date": [(RDP_IC, "00010_Datum geen toestemming")],
    "report_her_susc": [(RDP_IC, "00012_Datum einde deelname")],
}
DIAGNOSIS_CONCEPTS = {
    "tumor_type": "DIAGCD", "topography": "PLOCCD",
    "tumor_stage": "DIAGGRSTX", "diagnosis_date": "IDAABA",
    "diagnosis_center": "HOSPDIAG",
}

HEADERS = {
    RDP_PATIENT: ["INDIVIDUAL_ID", "Gebdat", "Geslacht", "Overleden",
                  "Overldat"],
    RDP_IC: ["INDIVIDUAL_ID", "00004_Toestemmingsstatus",
             "00007_Datum toestemming", "00010_Datum geen toestemming",
             "00012_Datum einde deelname"],
    INDIVIDUAL: ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "SEX", "IFCDATR",
                 "IFCGIV", "IFCMAT", "IFCCOM", "DTOB"],
    DIAGNOSIS: ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "CIDDIAG",
                "HOSPDIAG", "DIAGCD", "PLOCCD", "DIAGGRSTX", "IDAABA"],
    DEATH: ["MARK:", "ID", "IDAA", "INDIVIDUAL_ID", "STATUSA", "IDAABB",
            "DTDEATH"],
    STUDY: ["STUDY_ID", "acronym", "title", "description",
            "datadictionary"],
    INDIVIDUAL_STUDY: ["STUDY_ID_INDIVIDUAL_STUDY_ID", "STUDY_ID",
                       "INDIVIDUAL_ID", "INDIVIDUAL_STUDY_ID"],
    BIOSOURCE: ["biosource_id", "biosource_dedicated", "tissue",
                "biosource_date", "disease_status", "individual_id",
                "diagnosis_id", "src_biosource_id", "tumor_percentage",
                "label", "description"],
    BIOMATERIAL: ["biomaterial_id", "biomaterial_date", "type",
                  "src_biosource_id", "src_biomaterial_id", "description",
                  "label", "library_strategy", "analysis_type"],
    RADIOLOGY: ["radiology_id", "examination_date", "image_type",
                "field_strength", "individual_id", "diagnosis_id",
                "body_part"],
}


def _date_ddmmmyyyy(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(1, 28):02d}{rng.choice(MONTHS)}{rng.randint(y0, y1)}"


def _date_dmy(rng: random.Random, y0: int, y1: int, *,
              with_time: bool = False) -> str:
    d = f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(y0, y1)}"
    return d + " 0:00:00" if with_time else d


def _date_iso(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(y0, y1)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _maybe(rng: random.Random, p: float, value: str) -> str:
    """``value`` with probability ``p``, else the empty (NULL) cell."""
    return value if rng.random() < p else ""


@dataclass
class DropZone:
    """An in-memory drop zone: rows per source file, written on demand."""
    seed: int
    n_individuals: int
    rows: dict[str, list[list[str]]] = field(default_factory=dict)
    changes: int = 0

    # ------------------------------------------------------------ build

    @classmethod
    def generate(cls, seed: int, n_individuals: int) -> "DropZone":
        rng = random.Random(seed)
        dz = cls(seed=seed, n_individuals=n_individuals,
                 rows={f: [] for f in HEADERS})
        r = dz.rows
        n_studies = 6
        for s in range(1, n_studies + 1):
            r[STUDY].append([f"PMCST{s:03d}", f"ST{s}",
                             f"Study {s}, cohort {rng.randint(1, 9)}",
                             f"Registry study {s}, observational",
                             f"dd-{s}.xlsx"])
        n_diag = n_bios = n_biom = n_rad = 0
        for i in range(1, n_individuals + 1):
            pid = f"PAT{i}"
            dead = rng.random() < 0.08
            if rng.random() < 0.9:
                r[RDP_PATIENT].append([
                    pid, _maybe(rng, 0.95, _date_ddmmmyyyy(rng, 1940, 2015)),
                    _maybe(rng, 0.97, rng.choice("MV")), "1" if dead else "0",
                    _date_ddmmmyyyy(rng, 2000, 2020) if dead
                    and rng.random() < 0.7 else ""])
            r[INDIVIDUAL].append([
                "", str(i), str(1000 + i), pid,
                _maybe(rng, 0.98, rng.choice("129")),
                _maybe(rng, 0.7, rng.choice("12")),
                _maybe(rng, 0.5, rng.choice("12")), "", "",
                _maybe(rng, 0.97, _date_dmy(rng, 1940, 2015,
                                            with_time=True))])
            if rng.random() < 0.6:
                r[RDP_IC].append([
                    pid, _maybe(rng, 0.9, rng.choice(IC_STATUS)),
                    _maybe(rng, 0.5, _date_dmy(rng, 2010, 2020)),
                    _maybe(rng, 0.15, _date_dmy(rng, 2010, 2020)),
                    _maybe(rng, 0.1, _date_dmy(rng, 2010, 2020))])
            if dead or rng.random() < 0.02:
                r[DEATH].append([
                    "", str(i), str(1000 + i), pid, "1", "",
                    _maybe(rng, 0.9, _date_dmy(rng, 2000, 2020,
                                               with_time=True))])
            st = rng.randint(1, n_studies)
            r[INDIVIDUAL_STUDY].append([f"PMCST{st:03d}_{i}",
                                        f"PMCST{st:03d}", pid, str(i)])
            diags = []
            for _ in range(rng.choices((0, 1, 2), (0.2, 0.55, 0.25))[0]):
                n_diag += 1
                did = f"DIA{n_diag}"
                diags.append(did)
                r[DIAGNOSIS].append([
                    "", str(n_diag), str(1000 + i), pid, did,
                    _maybe(rng, 0.85, rng.choice(list(HOSPITALS))),
                    _maybe(rng, 0.95, rng.choice(list(TUMOR_TYPES))),
                    _maybe(rng, 0.9, rng.choice(list(TOPOGRAPHY))),
                    _maybe(rng, 0.3, f"stage {rng.choice('IV')}"),
                    _maybe(rng, 0.95, _date_dmy(rng, 2000, 2020,
                                                with_time=True))])
            for did in diags + ([""] if rng.random() < 0.3 else []):
                n_bios += 1
                bid = f"BIOS{n_bios}"
                r[BIOSOURCE].append([
                    bid, rng.choice(("yes", "no")), rng.choice(TISSUES),
                    _date_dmy(rng, 2000, 2020),
                    "primary tumor" if did else "unaffected", pid, did,
                    "", str(rng.randint(0, 100)), f"L{n_bios}", "extra"])
                for _ in range(rng.randint(0, 2)):
                    n_biom += 1
                    r[BIOMATERIAL].append([
                        f"BIOM{n_biom}", _date_dmy(rng, 2000, 2020),
                        rng.choice(BIOMATERIAL_TYPES), bid, "", "extra",
                        f"M{n_biom}",
                        ";".join(rng.sample(LIBRARY_STRATEGIES,
                                            rng.randint(1, 2))),
                        _maybe(rng, 0.7, ";".join(
                            rng.sample(ANALYSIS_TYPES, rng.randint(1, 3))))])
            if diags and rng.random() < 0.8:
                n_rad += 1
                r[RADIOLOGY].append([
                    f"RAD{n_rad}", _date_iso(rng, 2000, 2020),
                    rng.choice(IMAGE_TYPES),
                    _maybe(rng, 0.6, str(rng.choice((1.5, 3.0)))), pid,
                    rng.choice(diags), rng.choice(BODY_PARTS)])
        return dz

    # ------------------------------------------------------- expectation

    def _present(self) -> dict[tuple[str, str], dict[str, bool]]:
        """(file, column) -> {individual_id: cell is non-empty}."""
        out: dict[tuple[str, str], dict[str, bool]] = {}
        for f in (RDP_PATIENT, RDP_IC, INDIVIDUAL, DEATH):
            hdr = HEADERS[f]
            id_ix = hdr.index("INDIVIDUAL_ID")
            for c_ix, col in enumerate(hdr):
                out[(f, col)] = {row[id_ix]: row[c_ix] != ""
                                 for row in self.rows[f]}
        return out

    def expected_counts(self) -> dict[str, int]:
        """``observation_fact`` rows per concept code after the full
        sources2csr -> csr2transmart chain: an Individual concept counts
        a patient when any of its priority sources has a value; a
        Diagnosis concept counts each diagnosis row with a value."""
        present = self._present()
        ids = [row[3] for row in self.rows[INDIVIDUAL]]
        out = {}
        for concept, sources in INDIVIDUAL_CONCEPTS.items():
            out[f"Individual.{concept}"] = sum(
                any(present[s].get(pid, False) for s in sources)
                for pid in ids)
        hdr = HEADERS[DIAGNOSIS]
        for concept, col in DIAGNOSIS_CONCEPTS.items():
            ix = hdr.index(col)
            out[f"Diagnosis.{concept}"] = sum(
                row[ix] != "" for row in self.rows[DIAGNOSIS])
        return out

    # ------------------------------------------------------------ change

    def change_one_row(self, root: str) -> str:
        """Give one more RDP-IC patient an informed-consent date, rewrite
        that file and its sidecar, and return the changed file. Each
        call picks the next patient without a date, so every call moves
        ``Individual.ic_given_date`` up by exactly one."""
        col = HEADERS[RDP_IC].index("00007_Datum toestemming")
        empty = [row for row in self.rows[RDP_IC] if row[col] == ""]
        if not empty:
            raise ValueError("no RDP-IC row left to change")
        self.changes += 1
        rng = random.Random(self.seed * 1000003 + self.changes)
        empty[rng.randrange(len(empty))][col] = _date_dmy(rng, 2010, 2020)
        self._write_source(root, RDP_IC)
        return RDP_IC

    # ------------------------------------------------------------- write

    def write(self, root: str) -> None:
        """Write every file of the drop zone under ``root`` (created)."""
        for f in HEADERS:
            self._write_source(root, f)
        for f, text in _codebooks().items():
            _write_with_sidecar(root, f, text.encode("utf-8"))

    def _write_source(self, root: str, f: str) -> None:
        if f in CSV_FILES:
            lines = [",".join(_csv_cell(c) for c in row)
                     for row in [HEADERS[f]] + self.rows[f]]
        else:
            lines = ["\t".join(row) for row in [HEADERS[f]] + self.rows[f]]
        _write_with_sidecar(root, f, ("\n".join(lines) + "\n")
                            .encode("utf-8"))


def tree_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _csv_cell(value: str) -> str:
    """Studies CSVs quote every non-empty field; empty cells stay bare."""
    return '"' + value.replace('"', '""') + '"' if value else ""


def _write_with_sidecar(root: str, rel: str, data: bytes) -> None:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    with open(path + ".sha1", "w", encoding="ascii") as fh:
        fh.write(f"{hashlib.sha1(data).hexdigest()}  {os.path.basename(rel)}\n")


def _codebook_text(groups: list[tuple[list[str], dict[str, str]]]) -> str:
    """The reference's record format: a group line, then one mapping line
    of ``code<TAB>label`` pairs; ``\\r`` line ends; labels with commas
    CSV-quoted."""
    parts = []
    for n, (cols, mapping) in enumerate(groups, start=1):
        parts.append(f"{n}\t{' '.join(cols)}\t\t")
        cells = []
        for code, label in mapping.items():
            cells += [code, f'"{label}"' if "," in label else label]
        parts.append("\t" + "\t".join(cells))
    return "\r".join(parts) + "\r"


def _codebooks() -> dict[str, str]:
    return {
        CB_RDP: _codebook_text([(["Geslacht"], {"M": "male",
                                                "V": "female"})]),
        CB_INDIVIDUAL: _codebook_text([
            (["SEX"], {"1": "male", "2": "female", "9": "unknown"}),
            (["IFCDATR", "IFCGIV"], {"1": "yes", "2": "no"})]),
        CB_DIAGNOSIS: _codebook_text([
            (["HOSPDIAG"], HOSPITALS), (["DIAGCD"], TUMOR_TYPES),
            (["PLOCCD"], TOPOGRAPHY)]),
    }


# ------------------------------------------------------------- configs

def _src(file: str, column: str, fmt: str | None = None) -> dict:
    s = {"file": file, "column": column}
    if fmt:
        s["date_format"] = fmt
    return s


def _same_file(file: str, names: list[str],
               dates: dict[str, str] | None = None) -> list[dict]:
    """Attributes that each read the same-named column of one file."""
    dates = dates or {}
    return [{"name": n, "sources": [_src(file, n, dates.get(n))]}
            for n in names]


def sources_config() -> dict:
    """The generated drop zone's ``sources_config.json`` in the
    reference's real format: no id attributes or kinds, strptime date
    formats, a top-level codebooks map and per-file delimiters."""
    dmy_t = "%d/%m/%Y %H:%M:%S"
    dmy = "%d/%m/%Y"
    individual = [{"name": "individual_id", "sources": [
        _src(RDP_PATIENT, "INDIVIDUAL_ID"), _src(INDIVIDUAL, "INDIVIDUAL_ID"),
        _src(RDP_IC, "INDIVIDUAL_ID"), _src(DEATH, "INDIVIDUAL_ID")]}]
    fmts = {(RDP_PATIENT, "Gebdat"): "%d%b%Y",
            (RDP_PATIENT, "Overldat"): "%d%b%Y",
            (INDIVIDUAL, "DTOB"): dmy_t, (DEATH, "DTDEATH"): dmy_t}
    for concept, sources in INDIVIDUAL_CONCEPTS.items():
        is_date = concept.endswith("_date") or concept == "report_her_susc"
        individual.append({"name": concept, "sources": [
            _src(f, c, fmts.get((f, c), dmy) if is_date else None)
            for f, c in sources]})
    diagnosis = [{"name": "diagnosis_id",
                  "sources": [_src(DIAGNOSIS, "CIDDIAG")]},
                 {"name": "individual_id",
                  "sources": [_src(DIAGNOSIS, "INDIVIDUAL_ID")]}]
    for concept, col in DIAGNOSIS_CONCEPTS.items():
        diagnosis.append({"name": concept, "sources": [
            _src(DIAGNOSIS, col, dmy_t if concept == "diagnosis_date"
                 else None)]})
    entities = {
        "Individual": {"attributes": individual},
        "Diagnosis": {"attributes": diagnosis},
        "Biosource": {"attributes": _same_file(
            BIOSOURCE, ["biosource_id", "biosource_dedicated", "tissue",
                        "biosource_date", "disease_status", "individual_id",
                        "diagnosis_id", "src_biosource_id",
                        "tumor_percentage"], {"biosource_date": dmy})},
        "Biomaterial": {"attributes": _same_file(
            BIOMATERIAL, ["biomaterial_id", "biomaterial_date", "type",
                          "src_biosource_id", "src_biomaterial_id",
                          "library_strategy", "analysis_type"],
            {"biomaterial_date": dmy})},
        "Radiology": {"attributes": _same_file(
            RADIOLOGY, ["radiology_id", "examination_date", "image_type",
                        "field_strength", "individual_id", "diagnosis_id",
                        "body_part"], {"examination_date": "%Y-%m-%d"})},
        "Study": {"attributes": [
            {"name": "study_id", "sources": [_src(STUDY, "STUDY_ID")]},
            *_same_file(STUDY, ["acronym", "title", "description",
                                "datadictionary"])]},
        "IndividualStudy": {"attributes": [
            {"name": "study_id_individual_study_id", "sources": [
                _src(INDIVIDUAL_STUDY, "STUDY_ID_INDIVIDUAL_STUDY_ID")]},
            {"name": "study_id", "sources": [
                _src(INDIVIDUAL_STUDY, "STUDY_ID")]},
            {"name": "individual_id", "sources": [
                _src(INDIVIDUAL_STUDY, "INDIVIDUAL_ID")]},
            {"name": "individual_study_id", "sources": [
                _src(INDIVIDUAL_STUDY, "INDIVIDUAL_STUDY_ID")]}]},
    }
    return {
        "entities": entities,
        "codebooks": {RDP_PATIENT: CB_RDP, INDIVIDUAL: CB_INDIVIDUAL,
                      DIAGNOSIS: CB_DIAGNOSIS},
        "file_format": {f: {"delimiter": ","} for f in CSV_FILES},
    }


def ontology_config() -> dict:
    """Ontology tree: one folder per entity, one leaf per stage-3
    concept (``01.``-style prefixes give the display order)."""
    def leaves(entity: str, names) -> list[dict]:
        return [{"name": f"{i:02d}. {n}", "concept_code": f"{entity}.{n}"}
                for i, n in enumerate(names, start=1)]
    return {"nodes": [
        {"name": "01. Patient information",
         "children": leaves("Individual", INDIVIDUAL_CONCEPTS)},
        {"name": "02. Diagnosis information",
         "children": leaves("Diagnosis", DIAGNOSIS_CONCEPTS)},
    ]}


def write_configs(config_dir: str) -> tuple[str, str]:
    """Write both configs; returns (sources_config, ontology_config)."""
    os.makedirs(config_dir, exist_ok=True)
    paths = (os.path.join(config_dir, "sources_config.json"),
             os.path.join(config_dir, "ontology_config.json"))
    for path, cfg in zip(paths, (sources_config(), ontology_config())):
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(cfg, fh, indent=1, sort_keys=True)
    return paths
