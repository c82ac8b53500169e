"""The ``packets`` workload: the paper's extract -> transform -> load path.

Two patients-are-rows CSV tables of the reference's integration fixture
(HPO terms in cells; diseases, genes and HGVS variants) are tiled to about
10^4 subjects.  Copy 0 keeps the original subject ids; copy
``t`` renames subject ``P001`` to ``P001_t<t>``.  The seed shuffles the
order of the (copy, subject) row blocks; rows of one subject keep their
relative order, which the packet's item order depends on.

One operation is the whole cohort: ontology dims -> ``read_csv`` (with the
ingest row number) -> ``Pipeline.preprocess`` -> ``Pipeline.transform`` ->
``render_packets_v2`` -> ``sinks.write_jsonl``.  The table contexts and the
strategy list are a copy of the golden-fixture configuration (all eight
strategies), restricted to these two tables.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import time

from phenoxtract_spark.descriptors import (
    Context,
    ContextKind as K,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
    TimeElementType as T,
)
from phenoxtract_spark.operators import mapping, ontology
from phenoxtract_spark.operators.phenopacket_v2 import render_packets_v2
from phenoxtract_spark.plans import strategies as S
from phenoxtract_spark.plans.pipeline import Pipeline
from phenoxtract_spark.sources.readers import ExtractionConfig, read_csv
from phenoxtract_spark.sources.sinks import write_jsonl

HERE = os.path.dirname(os.path.abspath(__file__))
ASSETS = os.path.join(HERE, "assets")
TABLES = ("csv_data.csv", "csv_data_4.csv")
HEADERLESS = {"csv_data.csv"}
#: 3334 copies of the three tiled subjects (P001, P002, P006) ~ 10^4 packets
TILES = 3334
NO_INFO_ALIAS = {"no_info": None}
#: variationDescriptor ids hash the subject id; the golden normalization
#: replaces them with TEST_ID
_VD_ID = re.compile(r'"vd:[0-9a-f]+"')


def tile_cohort(out_dir: str, tiles: int, seed: int) -> dict:
    """Write the tiled tables into ``out_dir``; returns the cohort facts
    the output check needs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    rows_in = 0
    base_ids: set[str] = set()
    for name in TABLES:
        with open(os.path.join(ASSETS, "input", name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        header, body = ([], lines) if name in HEADERLESS else (lines[:1], lines[1:])
        blocks: dict[tuple[int, str], list[str]] = {}
        for t in range(tiles):
            for ln in body:
                sid, rest = ln.split(",", 1)
                sid = sid.strip()
                base_ids.add(sid)
                new = sid if t == 0 else f"{sid}_t{t}"
                blocks.setdefault((t, sid), []).append(f"{new},{rest}")
        keys = list(blocks)
        rng.shuffle(keys)
        out = header + [ln for k in keys for ln in blocks[k]]
        rows_in += len(out) - len(header)
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(out) + "\n")
    return {"dir": out_dir, "tiles": tiles, "base_ids": sorted(base_ids),
            "input_rows": rows_in}


def _sc(ident, kind, **kw):
    ctx_kw = {k: kw.pop(k) for k in ("time_type", "boundary", "assay_id",
                                     "unit_ontology_id") if k in kw}
    return SeriesContext(identifier=Identifier.of(ident),
                         data_context=Context(kind, **ctx_kw), **kw)


def _contexts():
    return {
        "csv_data.csv": (
            TableContext("CSV_Table", [
                _sc("0", K.SUBJECT_ID),
                _sc(["1", "2"], K.HPO, alias_map=NO_INFO_ALIAS),
            ]),
            False,
        ),
        "csv_data_4.csv": (
            TableContext("CSV_Table_4", [
                _sc("Patient ID", K.SUBJECT_ID),
                _sc("diseases", K.DISEASE, building_block_id="C"),
                _sc("disease_onset", K.ONSET, time_type=T.AGE,
                    building_block_id="C"),
                _sc("gene", K.HGNC, building_block_id="C"),
                _sc(["hgvs1", "hgvs2"], K.HGVS, building_block_id="C"),
            ]),
            True,
        ),
    }


def _dims(spark):
    with open(os.path.join(ASSETS, "golden_dims.json")) as f:
        raw = json.load(f)

    def terms(key):
        return [ontology.OntologyTerm(t["id"], t["label"], tuple(t["synonyms"]))
                for t in raw[key]]

    hpo_terms = ontology.parse_obo(os.path.join(ASSETS, "mini_hp.obo"))
    all_terms = (hpo_terms + terms("mondo") + terms("uo") + terms("pato")
                 + terms("loinc"))
    hgvs_rows = [
        (k, [(e["syntax"], e["value"]) for e in v["expressions"]],
         tuple(v["vcf"][c] for c in ("genome_assembly", "chrom", "pos", "ref",
                                      "alt")))
        for k, v in raw["hgvs"].items()
    ]
    return {
        "hpo": ontology.bidict_dim(spark, hpo_terms, resource="hp"),
        "mondo": ontology.bidict_dim(spark, terms("mondo"), resource="mondo"),
        "pato": ontology.bidict_dim(spark, terms("pato"), resource="pato"),
        "labels": spark.createDataFrame([(t.id, t.label) for t in all_terms],
                                        "id string, label string"),
        "hgnc": spark.createDataFrame(list(raw["hgnc"].items()),
                                      "symbol string, hgnc_id string"),
        "hgvs": spark.createDataFrame(
            hgvs_rows,
            "hgvs string, expressions array<struct<syntax:string,value:string>>,"
            "vcf struct<genome_assembly:string,chrom:string,pos:bigint,"
            "ref:string,alt:string>"),
        "resources": raw["resources"],
    }


def run_cohort(spark, tracer, cohort: dict, out_dir: str) -> None:
    """One operation: the whole cohort from CSV to sharded JSONL."""
    with tracer.span("ontology"):
        dims = _dims(spark)
    with tracer.span("sources.extract"):
        cdfs = []
        for name, (ctx, headers) in _contexts().items():
            df = read_csv(spark, os.path.join(cohort["dir"], name),
                          ExtractionConfig(ctx.name, has_headers=headers,
                                           patients_are_rows=True),
                          attach_rownum=True)
            cdfs.append(ContextualizedDataFrame(df, ctx))
    pipe = Pipeline(cohort="my_cohort")
    with tracer.span("plans.preprocess"):
        cdfs = pipe.preprocess(cdfs)
    with tracer.span("plans.strategies"):
        pipe.add_strategy(S.AliasMapStrategy())
        pipe.add_strategy(S.OntologyNormaliserStrategy(
            ontology_dim=dims["hpo"], kinds=(K.HPO,)))
        pipe.add_strategy(S.OntologyNormaliserStrategy(
            ontology_dim=dims["pato"], kinds=(K.QUALITATIVE_MEASUREMENT,)))
        pipe.add_strategy(S.OntologyNormaliserStrategy(
            ontology_dim=dims["mondo"], kinds=(K.DISEASE,)))
        pipe.add_strategy(S.DateToAgeStrategy(strict=True))
        pipe.add_strategy(S.MappingStrategy(spark, K.SUBJECT_SEX, mapping.SEX_MAP))
        pipe.add_strategy(S.AgeToIso8601Strategy())
        pipe.add_strategy(S.MultiHpoColExpansionStrategy())
        cdfs = pipe.transform(cdfs)
    with tracer.span("phenopacket_v2.render"):
        out = render_packets_v2(
            cdfs, labels_dim=dims["labels"], hgnc_dim=dims["hgnc"],
            hgvs_dim=dims["hgvs"], resources=dims["resources"],
            cohort="my_cohort", created_by="Integration Test",
            submitted_by="Someone")
    with tracer.span("sources.sink"):
        write_jsonl(out, out_dir)


def normalize_packet(pp: dict) -> dict:
    """The golden test's volatile-field normalization."""
    pp = json.loads(json.dumps(pp))
    pp.get("metaData", {}).pop("created", None)
    for interp in pp.get("interpretations", []):
        for gi in interp.get("diagnosis", {}).get("genomicInterpretations", []):
            vd = gi.get("variantInterpretation", {}).get("variationDescriptor")
            if vd is not None:
                vd["id"] = "TEST_ID"
    for res in pp.get("metaData", {}).get("resources", []):
        if res.get("id") == "loinc":
            res["version"] = "-"
    vs = pp.get("subject", {}).get("vitalStatus")
    if vs is not None and "survivalTimeInDays" not in vs:
        vs["survivalTimeInDays"] = 0
    return pp


def read_packets(out_dir: str) -> list[str]:
    lines = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part) as f:
            lines.extend(ln for ln in f.read().splitlines() if ln)
    return lines


def check_packets(lines: list[str], cohort: dict) -> list[str]:
    """Problems with one operation's output; empty when it is correct.

    - exactly one packet per subject: 3 per copy;
    - copy-0 packets equal the committed expected packets after the
      golden volatile-field normalization;
    - every other copy equals copy 0 once its subject id is substituted.
    """
    problems = []
    want = len(cohort["base_ids"]) * cohort["tiles"]
    if len(lines) != want:
        problems.append(f"{len(lines)} packets, expected {want}")
    by_id: dict[str, str] = {}
    for ln in lines:
        sid = json.loads(ln)["subject"]["id"]
        if sid in by_id:
            problems.append(f"duplicate packet for {sid}")
        by_id[sid] = ln
    for base in cohort["base_ids"]:
        original = by_id.get(base)
        if original is None:
            problems.append(f"no packet for {base}")
            continue
        with open(os.path.join(ASSETS, "expected", f"expected_{base}.json")) as f:
            expected = normalize_packet(json.load(f))
        if normalize_packet(json.loads(original)) != expected:
            problems.append(f"{base} differs from expected_{base}.json")
        original_s = _VD_ID.sub('"TEST_ID"', original)
        for t in range(1, cohort["tiles"]):
            sid = f"{base}_t{t}"
            copy = by_id.get(sid)
            if copy is None:
                problems.append(f"no packet for {sid}")
            elif _VD_ID.sub('"TEST_ID"', copy.replace(sid, base)) != original_s:
                problems.append(f"{sid} differs from {base}")
    return problems[:20]


def corrupt_one_packet(out_dir: str) -> None:
    """Fault injection for the self-test: flip one packet's subject sex."""
    part = sorted(glob.glob(os.path.join(out_dir, "part-*")))[0]
    with open(part) as f:
        lines = f.read().splitlines()
    pp = json.loads(lines[0])
    pp.setdefault("subject", {})["sex"] = "OTHER_SEX"
    lines[0] = json.dumps(pp)
    with open(part, "w") as f:
        f.write("\n".join(lines) + "\n")


class PacketsWorkload:
    def __init__(self, work: str, seed: int, tiles: int = TILES):
        self.work, self.seed, self.tiles = work, seed, tiles
        self.cohort: dict = {}
        self.outputs: list[str] = []  # one directory per successful operation
        self.inject = None

    def prepare(self):
        """Tile the cohort, untimed."""
        self.cohort = tile_cohort(os.path.join(self.work, "input", "packets"),
                                  self.tiles, self.seed)

    def run_pass(self, spark, tracer, record) -> None:
        """One pass = one operation.  ``record(latency_s, ok)``; its output
        is checked by :meth:`final_checks`, outside the timed passes."""
        out_dir = os.path.join(self.work, "out", "packets", f"op{len(self.outputs)}")
        ok = True
        t0 = time.perf_counter()
        try:
            with tracer.span("op.packets"):
                run_cohort(spark, tracer, self.cohort, out_dir)
        except Exception as exc:  # a failed operation is counted, not fatal
            print(f"packets: operation raised {type(exc).__name__}: {exc}")
            ok = False
        record(time.perf_counter() - t0, ok)
        if ok:
            self.outputs.append(out_dir)

    def input_rows(self, op: dict) -> float:
        """Rows one operation is handed: the tiled CSV rows."""
        return self.cohort["input_rows"]

    def final_checks(self, spark) -> int:
        """Check every operation's output; returns the number that fail."""
        failed = 0
        for out_dir in self.outputs:
            if self.inject == "corrupt-packet":
                corrupt_one_packet(out_dir)
            problems = check_packets(read_packets(out_dir), self.cohort)
            for p in problems:
                print(f"packets: {p}")
            failed += 1 if problems else 0
        return failed
