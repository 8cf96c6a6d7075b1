"""North-rule validation queries over the deterministic image+caption
fixture, oracled against the generator's golden outputs (an independent
pure-Python reimplementation of the rule semantics — see
sources/image_table.py).

The fixture (1010 rows, planted violations every 101-row cycle) is
materialized once per machine under /tmp at import time — pandas/numpy
only, ~1s — so the DuckDB oracle can ``read_parquet`` the golden files
regardless of whether the driver runs the oracle before or after the
Spark query.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

FIXTURE_ROWS = 1010
FIXTURE_BUCKETS = 4
FIXTURE_SEED = 42
from ..sources.image_table import CONTENT_VERSION  # noqa: E402

# Fixture version = image CONTENT_VERSION + a local rev for non-image
# fixture content (AV clips, sheets, ...). Bumping the local rev rebuilds
# the 1010-row fixture WITHOUT invalidating the 600k-row bench/scale
# image tables (those embed CONTENT_VERSION only).
FIXTURE_REV = 2  # rev 2: + workbook ingest fixture (rev 1: ADPCM/MJPEG clips)
FIXTURE_VERSION = f"{CONTENT_VERSION}.{FIXTURE_REV}"
FIX_DIR = Path(
    f"/tmp/dcc_vm_fixture_n{FIXTURE_ROWS}_s{FIXTURE_SEED}_b{FIXTURE_BUCKETS}"
    f"_v{FIXTURE_VERSION}"
)
_MARKER = ".done_all"
_LOCK_STALE_S = 180.0


def ensure_fixture() -> Path:
    """Materialize the fixture exactly once per machine, safely under
    concurrent callers (the driver may import this module from several
    processes at once — e.g. the Spark runner and the DuckDB oracle).

    The build happens in a pid-scoped temp dir that is atomically renamed
    into place; an O_EXCL lock file serializes builders and a stale-lock
    timeout recovers from a crashed builder. Never partially visible:
    ``FIX_DIR`` either doesn't exist or carries the ``.done_all`` marker.
    """
    marker = FIX_DIR / _MARKER
    if marker.exists():
        return FIX_DIR
    lock = FIX_DIR.parent / (FIX_DIR.name + ".lock")
    my_pid = str(os.getpid())
    fd: int | None = None
    try:
        while fd is None:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, my_pid.encode())  # ownership tag
            except FileExistsError:
                # Another process is building: wait for its marker, or
                # break a stale lock left by a crashed builder.
                deadline = time.monotonic() + _LOCK_STALE_S
                while time.monotonic() < deadline:
                    if marker.exists():
                        return FIX_DIR
                    try:
                        if time.time() - lock.stat().st_mtime > _LOCK_STALE_S:
                            lock.unlink()
                            break
                    except FileNotFoundError:
                        break
                    time.sleep(0.2)
        if marker.exists():  # built while we waited for the lock
            return FIX_DIR
        tmp = FIX_DIR.parent / f"{FIX_DIR.name}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        from ..sources.image_table import generate_image_fixture

        def _refresh_lock() -> None:
            # keep the lock mtime fresh so a build taking >_LOCK_STALE_S
            # is never declared stale mid-build (which would admit a
            # second concurrent builder)
            try:
                os.utime(lock)
            except FileNotFoundError:
                pass

        generate_image_fixture(
            tmp, n_rows=FIXTURE_ROWS, seed=FIXTURE_SEED, n_buckets=FIXTURE_BUCKETS
        )
        _refresh_lock()
        _write_samples_fixture(tmp)
        _write_breeds_fixture(tmp)
        _write_faang_fixture(tmp)
        _write_graphql_fixture(tmp)
        _write_taxon_fixture(tmp)
        _refresh_lock()
        _write_audio_fixture(tmp)
        _write_video_fixture(tmp)
        _write_ena_fixture(tmp)
        _write_workbook_fixture(tmp)
        _refresh_lock()
        (tmp / _MARKER).touch()
        # Finish protocol: rename FIRST, never rmtree-then-rename — a
        # check-then-delete window would let this builder destroy a
        # complete fixture a lock-breaking waiter renamed into place a
        # microsecond after the check. rename is atomic; it fails iff
        # FIX_DIR already exists, and then the marker decides: marker →
        # a complete fixture won the race (success, discard ours);
        # no marker → a legacy partial from a pre-protocol crash — safe
        # to remove because nothing reads a marker-less dir (readers
        # gate on the marker), then retry once.
        for attempt in (0, 1):
            try:
                os.rename(tmp, FIX_DIR)
                break
            except OSError:
                if marker.exists():
                    shutil.rmtree(tmp, ignore_errors=True)
                    break
                if attempt == 0:
                    shutil.rmtree(FIX_DIR, ignore_errors=True)
                else:
                    raise
    finally:
        if fd is not None:
            os.close(fd)
            try:
                # unlink only a lock we still own — if a waiter declared
                # ours stale and replaced it, removing THEIRS would admit
                # a third concurrent builder
                if lock.read_text() == my_pid:
                    lock.unlink(missing_ok=True)
            except OSError:
                pass
    return FIX_DIR


def _write_samples_fixture(out_dir: Path) -> None:
    """FAANG-shaped samples sheet with (collection_date, units) pairs —
    deterministic, planted date-unit mismatches in every ladder position
    (reference semantics: WarningsAndAdditionalChecks.py:322-347)."""
    import pandas as pd

    units_cycle = ["YYYY-MM-DD", "YYYY-MM", "YYYY"]
    rows = []
    for i in range(120):
        units = units_cycle[i % 3]
        day = i % 28 + 1
        good = {
            "YYYY-MM-DD": f"20{i % 25:02d}-{i % 12 + 1:02d}-{day:02d}",
            "YYYY-MM": f"20{i % 25:02d}-{i % 12 + 1:02d}",
            "YYYY": f"20{i % 25:02d}",
        }[units]
        value: str | None = good
        if i % 11 == 3:
            value = f"20{i % 25:02d}"  # narrower than declared units
            if units == "YYYY":
                value = f"20{i % 25:02d}-05-05"  # wider than declared
        elif i % 11 == 7:
            value = f"20{i % 25:02d}-13-40"  # regex-valid, parse-invalid
            if units == "YYYY-MM":
                value = f"20{i % 25:02d}-13"
            elif units == "YYYY":
                value = "999"  # too short
        elif i % 11 == 9:
            value = None
        rows.append(
            {"name": f"s_{i:03d}", "collection_date": value, "units": units}
        )
    pd.DataFrame(rows).to_parquet(out_dir / "samples_dates.parquet", index=False)


def _write_breeds_fixture(out_dir: Path) -> None:
    """Breed ontology with a parent hierarchy + a samples sheet with
    planted graph-restriction and label-mismatch violations (reference
    semantics: check_breeds / check_ols,
    WarningsAndAdditionalChecks.py:292-320, 418-446)."""
    import pandas as pd

    onto = pd.DataFrame(
        [
            ("LBO:0000000", "breeds root", None),
            ("LBO:0001000", "bos taurus breeds", "LBO:0000000"),
            ("LBO:0002000", "sus scrofa breeds", "LBO:0000000"),
            ("LBO:0001001", "Holstein", "LBO:0001000"),
            ("LBO:0001002", "Angus", "LBO:0001000"),
            ("LBO:0001003", "Holstein x Angus crossbreed", "LBO:0001001"),
            ("LBO:0002001", "Duroc", "LBO:0002000"),
        ],
        columns=["term", "label", "parent_term"],
    )
    roots = {"Bos taurus": "LBO:0001000", "Sus scrofa": "LBO:0002000"}
    rows = []
    plants = [
        # (species, term, text) — valid unless noted
        ("Bos taurus", "LBO:0001001", "holstein"),          # ok (case-insens)
        ("Bos taurus", "LBO:0001003", "Holstein x Angus crossbreed"),  # ok, 2-level
        ("Sus scrofa", "LBO:0002001", "Duroc"),             # ok
        ("Bos taurus", "LBO:0002001", "Duroc"),             # wrong subtree
        ("Sus scrofa", "LBO:0001002", "Angus"),             # wrong subtree
        ("Bos taurus", "LBO:0001002", "angus beef cattle"), # label mismatch
    ]
    for i in range(60):
        species, term, text = plants[i % len(plants)]
        rows.append(
            {
                "name": f"b_{i:03d}",
                "species": species,
                "breed_root": roots[species],
                "breed_term": term,
                "breed_text": text,
            }
        )
    onto.to_parquet(out_dir / "ontology_breeds.parquet", index=False)
    pd.DataFrame(rows).to_parquet(out_dir / "samples_breeds.parquet", index=False)


def _faang_fixture_rows() -> list[dict]:
    """Organism sheet rows, one violation family planted per 16-row cycle
    position (position 0 = clean)."""
    rows = []
    for i in range(96):
        r = {
            "sample_name": f"ORG_{i:04d}",
            "sample_description": f"adult animal {i}",
            "material": "organism",
            "material__term": "OBI:0100026",
            "project": "FAANG",
            "secondary_project": None,
            "availability": "https://faang.example.org/samples",
            "organism": "Sus scrofa",
            "organism__term": "NCBITaxon:9823",
            "sex": "female",
            "sex__term": "PATO:0000383",
            "birth_date": f"20{i % 25:02d}-{i % 12 + 1:02d}-{i % 28 + 1:02d}",
            "birth_date__units": "YYYY-MM-DD",
            "breed": "Duroc",
            "breed__term": "LBO:0000358",
            "health_status": "healthy",
            "health_status__term": "PATO:0000461",
            "birth_weight": f"{1.0 + (i % 7) * 0.25:.2f}",
            "birth_weight__units": "kilograms",
            "pedigree": "https://pedigree.example.org/entry",
        }
        # ontology-plant cycle (independent of the row-rule slots below:
        # these columns carry no row-level rules, so the row-rule golden
        # is untouched)
        oslot = i % 8
        if oslot == 1:
            r["sex__term"] = "PATO:9999999"      # dangling term
        elif oslot == 2:
            r["sex__term"] = "PATO:0000461"      # outside the sex subtree
        elif oslot == 3:
            r["sex__term"] = "PATO:0000047"      # the root itself (include_self=false)
        elif oslot == 4:
            r["sex"] = "FEMALE animal"           # label-precision mismatch
        elif oslot == 5:
            r["organism__term"] = "NCBITaxon:777"  # dangling in NCBITaxon
        slot = i % 16
        if slot == 1:
            r["material"] = "tissue sample"        # text-enum violation
        elif slot == 2:
            r["project"] = "NOTFAANG"              # value-enum violation
        elif slot == 3:
            r["organism"] = None                   # mandatory missing
        elif slot == 4:
            r["sex"] = "not provided"              # missing token (error tier)
        elif slot == 5:
            r["birth_date"] = f"20{i % 25:02d}-13-40"  # regex + date_unit
        elif slot == 6:
            r["birth_date"] = f"20{i % 25:02d}-05"     # narrower than units
        elif slot == 7:
            r["birth_date__units"] = "MONTHLY"     # units-enum violation
        elif slot == 8:
            r["breed"] = None                      # recommended missing
        elif slot == 9:
            r["availability"] = "ftp://wrong.example.org"  # pattern violation
        elif slot == 10:
            r["birth_weight"] = "heavy"            # numeric violation
        elif slot == 11:
            r["birth_weight__units"] = "pounds"    # units-enum violation
        elif slot == 12:
            r["pedigree"] = "gopher://old.example.org"  # pattern violation
        elif slot == 13:
            r["sample_description"] = "restricted access"  # token (warning)
        elif slot == 14:
            r["material__term"] = "OBI:9999999"    # term-enum violation
        elif slot == 15:
            r["project"] = None                    # mandatory missing
        rows.append(r)
    return rows


def _faang_expected(rows: list[dict], table: str = "organism") -> list[dict]:
    """Independent golden: re-derives the expected violations by walking
    the vendored JSON-Schema documents directly with plain Python (re /
    float / strptime) — no Ruleset, no compiler, no Spark. Shares ONLY
    rules/messages.py with the engine (single-source message formats by
    design, SURVEY.md F6)."""
    import re as _re
    from datetime import datetime

    from ..rules import messages as M
    from ..rules.constants import DATE_UNIT_FORMATS, MISSING_VALUES
    from ..rules.faang_schema import load_vendored_schema

    core = load_vendored_schema("faang_samples_core.metadata_rules.json")
    typ = load_vendored_schema("faang_samples_organism.metadata_rules.json")
    props: dict[str, dict] = {}
    for schema in (core, typ):
        for key, prop in schema.get("properties", {}).items():
            if key in ("describedBy", "schema_version") or "$ref" in prop:
                continue
            sub = (
                prop.get("items", {}).get("properties", {})
                if prop.get("type") == "array"
                else prop.get("properties", {})
            )
            if sub:
                props[key] = sub

    strptime_fmt = {"YYYY-MM-DD": "%Y-%m-%d", "YYYY-MM": "%Y-%m", "YYYY": "%Y"}
    strict_re = {
        "YYYY-MM-DD": r"^\d{4}-\d{2}-\d{2}$",
        "YYYY-MM": r"^\d{4}-\d{2}$",
        "YYYY": r"^\d{4}$",
    }

    def present(v) -> bool:
        return v is not None and str(v).strip() != ""

    out: list[dict] = []

    def emit(name, field, severity, message):
        out.append(
            {"name": name, "field": field, "severity": severity, "message": message}
        )

    for row in rows:
        name = row["sample_name"]
        for fname, sub in props.items():
            tier = sub.get("mandatory", {}).get("const", "optional")
            val = row.get(fname)
            units = row.get(fname + "__units")
            term = row.get(fname + "__term")
            if not present(val):
                if tier == "mandatory":
                    emit(name, fname, "error", M.msg_mandatory_missing(fname))
                elif tier == "recommended":
                    emit(name, fname, "warning", M.msg_recommended_missing())
            else:
                sval = str(val)
                token = sval.strip().lower()
                matrix = MISSING_VALUES[tier]
                if token in matrix["errors"]:
                    emit(name, fname, "error", M.msg_missing_token(fname, table))
                elif token in matrix["warnings"]:
                    emit(name, fname, "warning", M.msg_missing_token(fname, table))
                text_enum = sub.get("text", {}).get("enum")
                if text_enum and sval not in text_enum:
                    emit(name, fname, "error", M.msg_enum(sval, fname, text_enum))
                value = sub.get("value", {})
                pat = value.get("pattern")
                if pat and not _re.search(pat, sval):
                    emit(name, fname, "error", M.msg_regex(sval, fname, pat))
                venum = value.get("enum") or (
                    [value["const"]] if "const" in value else None
                )
                if venum and sval not in venum:
                    emit(name, fname, "error", M.msg_enum(sval, fname, venum))
                if value.get("type") == "number":
                    # same regex as the compiler's numeric rule (NUMBER_RE)
                    # — float() would accept '1_000'/'inf' that Spark (and
                    # JSON) reject, letting the golden diverge
                    from ..rules.constants import NUMBER_RE

                    if not _re.match(NUMBER_RE, sval):
                        emit(name, fname, "error", M.msg_numeric(sval, fname))
                if units is not None and str(units) in DATE_UNIT_FORMATS:
                    u = str(units)
                    ok = bool(_re.fullmatch(strict_re[u], sval))
                    if ok:
                        try:
                            datetime.strptime(sval, strptime_fmt[u])
                        except ValueError:
                            ok = False
                    if not ok:
                        emit(name, fname, "error", M.msg_date_unit(u, sval))
            uenum = sub.get("units", {}).get("enum")
            if uenum and present(units) and str(units) not in uenum:
                emit(
                    name,
                    fname + "__units",
                    "error",
                    M.msg_enum(str(units), fname + "__units", uenum),
                )
            tenum = sub.get("term", {}).get("enum")
            if tenum and present(term) and str(term) not in tenum:
                emit(
                    name,
                    fname + "__term",
                    "error",
                    M.msg_enum(str(term), fname + "__term", tenum),
                )
    return out


# Workbook-ingest fixture (S1/S3/S4): sheet templates shared by the
# Spark query (builds SheetSpec from them) and the golden writer (pure
# Python mirror of the reference's header-resolution + projection
# semantics, ReadExcelFile.py:140-470).
_WB_SPECS = {
    "samples": {
        "core": ("sample_name", "material"),
        "type": ("weight", "conc. corrected", "breed", "height"),
        "mandatory": ("sample_name", "material", "height"),
    },
    "organism": {
        "core": ("sample_name",),
        "type": ("organism", "birth_date"),
        "mandatory": ("sample_name",),
    },
}

# header rows + body rows, exercising every messy-header path: duplicate
# attribute ("weight" twice -> pandas-style dedup "weight.1" -> S3 issue,
# first column wins), dotted legitimate header ("conc. corrected"),
# blank header (column dropped with its data), sibling units/term
# columns, ragged short rows, empty-string vs missing cells, a custom
# (unknown) column, and a missing mandatory column ("height").
_WB_SHEETS: dict[str, list[list[str | None]]] = {
    "samples": [
        ["sample_name", "material", "weight", "weight__units",
         "conc. corrected", "breed", "breed__term", "weight", "notes",
         "", "project"],
        ["S01", "organism", "42.5", "kg", "1.5", "Holstein",
         "LBO:0000156", "41.9", "first note", "ignored", "P1"],
        ["S02", "specimen", "", "kg", "2.0", "Angus", "LBO:0000001",
         "", "", "x", "P1"],
        ["S03", "organism"],
        ["S04", "organism", "38.0", "", "2.2  ", "Jersey", "",
         "38.0", "note with ünïcode", "y", "P2"],
        ["S05", "pool of specimens", "  ", "kg", "3", "Brahman",
         "LBO:0000002", "x", None, "z", "P2"],
        ["S06", "organism", "40", "lb", "", "Hereford", "LBO:0000003",
         "40", "six", "", ""],
    ],
    "organism": [
        ["sample_name", "organism", "organism__term", "birth_date",
         "birth_date__units", "custom col"],
        ["A1", "Bos taurus", "NCBITaxon:9913", "2021-03-01",
         "YYYY-MM-DD", "c1"],
        ["A2", "Sus scrofa", "NCBITaxon:9823", "2021-03", "YYYY-MM", ""],
        ["A3", "Gallus gallus", "", "2020", "YYYY"],
    ],
}


def _write_workbook_fixture(out_dir: Path) -> None:
    """Write the ingest workbook AND an independently-computed golden of
    its flat projection, so the driver oracle certifies S1 (xlsx cell
    extraction), S3 (header->field resolution incl. duplicate/missing-
    mandatory issues) and S4 (nested cell projection: empty cells ->
    NULL structs, sibling __units/__term folding) at value level.

    The golden below is a from-scratch mirror of the reference semantics
    (conversion/ReadExcelFile.py:140-470) over the raw sheet lists — it
    shares no code with sources/sheet_ingest or sources/xlsx readers."""
    import re

    import pandas as pd

    from ..sources.xlsx import write_workbook

    write_workbook(out_dir / "submission.xlsx", _WB_SHEETS)

    expected: list[tuple] = []
    for sheet, rows in _WB_SHEETS.items():
        spec = _WB_SPECS[sheet]
        known = set(spec["core"]) | set(spec["type"])
        header, body = rows[0], rows[1:]
        # S1: blank headers dropped, duplicate names deduped "x" -> "x.1"
        cols: list[str] = []
        keep: list[int] = []
        seen_h: dict[str, int] = {}
        for i, hcell in enumerate(header):
            if hcell is None or str(hcell).strip() == "":
                continue
            hname = str(hcell)
            n = seen_h.get(hname, 0)
            seen_h[hname] = n + 1
            cols.append(hname if n == 0 else f"{hname}.{n}")
            keep.append(i)
        colset = set(cols)
        col_idx = dict(zip(cols, keep))
        # S3: strip only the dedup suffix; first column wins per field;
        # duplicates and missing mandatory columns become issue rows
        resolved: dict[str, str] = {}
        custom: list[str] = []
        issues: list[tuple[str, str]] = []
        seen: dict[str, list[str]] = {}
        for cname in cols:
            if cname.endswith(("__units", "__term")):
                continue
            base = re.sub(r"\.\d+$", "", cname)
            if base in known:
                seen.setdefault(base, []).append(cname)
            else:
                custom.append(cname)
        for fld, cl in seen.items():
            if len(cl) > 1:
                issues.append((
                    fld,
                    f"There are multiple entries for attribute '{fld}' "
                    f"in sheet '{sheet}'",
                ))
            resolved[fld] = cl[0]
        for fld in spec["mandatory"]:
            if fld not in seen:
                issues.append((
                    fld,
                    f"Field '{fld}' is mandatory in sheet '{sheet}' "
                    f"but no column was provided",
                ))

        def cell(row: list, cname: str):
            i = col_idx.get(cname)
            if i is None or i >= len(row):
                return None
            return row[i]

        # S4: per-row flat projection of the nested record
        for row in body:
            name = cell(row, resolved["sample_name"])
            for fld, cname in resolved.items():
                section = "core" if fld in spec["core"] else "type"
                v = cell(row, cname)
                u = cell(row, cname + "__units") if cname + "__units" in colset else None
                t = cell(row, cname + "__term") if cname + "__term" in colset else None
                if v is not None and v.strip(" ") == "":
                    v, u, t = None, None, None  # empty cell -> NULL struct
                expected.append((sheet, name, section, fld, v, u, t))
            for cname in custom:
                expected.append(
                    (sheet, name, "custom", cname, cell(row, cname), None, None)
                )
        for fld, msg in issues:
            expected.append((sheet, sheet, "issue", fld, msg, None, None))

    pd.DataFrame(
        expected,
        columns=["sheet", "name", "section", "field", "value", "units", "term"],
    ).to_parquet(out_dir / "workbook_expected.parquet", index=False)


def _write_taxon_fixture(out_dir: Path) -> None:
    """J12 fixture: a vendored NCBI-taxonomy snapshot (name → taxon id +
    scientific name) plus a samples list with case variations and
    unknown organisms (BiosamplesFileConverter.py:56-114 semantics)."""
    import pandas as pd

    taxa = pd.DataFrame(
        [
            ("Sus scrofa", 9823, "Sus scrofa"),
            ("Bos taurus", 9913, "Bos taurus"),
            ("Gallus gallus", 9031, "Gallus gallus"),
            ("Ovis aries", 9940, "Ovis aries"),
            ("Equus caballus", 9796, "Equus caballus"),
            ("Capra hircus", 9925, "Capra hircus"),
        ],
        columns=["name", "taxon_id", "scientific_name"],
    )
    organisms = [
        "Sus scrofa", "BOS TAURUS", "gallus gallus", "Ovis aries",
        "Equus caballus", "Capra hircus", "Tyrannosaurus rex", "sus scrofa",
        "Unknown beast", None,
    ]
    samples = pd.DataFrame(
        {
            "name": [f"t_{i:03d}" for i in range(60)],
            "organism": [organisms[i % len(organisms)] for i in range(60)],
        }
    )
    taxa.to_parquet(out_dir / "taxon_snapshot.parquet", index=False)
    samples.to_parquet(out_dir / "samples_taxon.parquet", index=False)


def _write_audio_fixture(out_dir: Path) -> None:
    """Multimodal audio fixture: 48 deterministic clips (sine + seeded
    noise floor) — every 6th encoded as REAL IMA ADPCM (4-bit compressed,
    tag 0x11), the rest 16-bit PCM WAV — plus golden features computed
    directly on the locally-decoded signal, independent of the engine's
    Spark path (codec fidelity itself is pinned by unit tests)."""
    import numpy as np
    import pandas as pd

    from ..multimodal.av import (
        decode_ima_adpcm_wav,
        encode_ima_adpcm_wav,
        encode_pcm_wav,
    )

    clips, gold = [], []
    for i in range(48):
        sr = [8000, 16000][i % 2]
        dur = 0.25 + (i % 4) * 0.25
        freq = 110.0 * (1 + i % 8)
        amp = 0.2 + (i % 5) * 0.15
        t = np.arange(int(sr * dur)) / sr
        rng = np.random.default_rng(1000 + i)
        sig = amp * np.sin(2 * np.pi * freq * t) + 0.01 * rng.standard_normal(len(t))
        adpcm = i % 6 == 5  # 8 of 48 clips exercise the compressed codec
        if adpcm:
            data = encode_ima_adpcm_wav(sig, sr)
            x, _ = decode_ima_adpcm_wav(data)  # golden = decoded samples
        else:
            data = encode_pcm_wav(sig, sr)
            # golden from the quantized signal (what 16-bit PCM stores)
            q = np.clip(sig, -1, 1)
            x = (q * 32767.0).astype("<i2").astype(np.float32) / 32767.0
        clips.append(
            {
                "clip_id": f"clip_{i:03d}",
                "bytes": data,
                "sample_rate": sr,
                "n_channels": 1,
                "duration_sec": dur,
                "codec": "ima_adpcm" if adpcm else "pcm_wav",
            }
        )
        gold.append(
            {
                "clip_id": f"clip_{i:03d}",
                "rms": round(float(np.sqrt(np.mean(x**2))), 6),
                "peak": round(float(np.abs(x).max()), 6),
                "zero_crossings": int(np.count_nonzero(np.diff(np.signbit(x)))),
            }
        )
    pd.DataFrame(clips).to_parquet(out_dir / "audio_clips.parquet", index=False)
    pd.DataFrame(gold).to_parquet(out_dir / "expected_audio_features.parquet", index=False)


def _write_video_fixture(out_dir: Path) -> None:
    """Multimodal video fixture: 12 deterministic AVI clips (moving
    gradient + seeded noise, varied fps/size/length incl. a row-padded
    odd width) — every 4th encoded as REAL Motion-JPEG (each frame an
    independent baseline-JFIF stream), the rest uncompressed DIB — plus
    golden per-sampled-frame channel means computed directly on the
    locally-decoded frames, independent of the engine's Spark path
    (codec fidelity itself is pinned by unit tests)."""
    import numpy as np
    import pandas as pd

    from ..multimodal.av import decode_avi, encode_avi

    clips, gold = [], []
    for i in range(12):
        fps = [5.0, 10.0, 25.0][i % 3]
        w = [16, 17, 24][i % 3]  # 17 exercises 4-byte row padding
        h = [12, 10, 16][i % 3]
        n_frames = 4 + (i % 5) * 3
        rng = np.random.default_rng(2000 + i)
        frames = []
        for f in range(n_frames):
            gx = np.linspace(0, 255, w, dtype=np.float64)[None, :]
            gy = np.linspace(0, 255, h, dtype=np.float64)[:, None]
            base = (gx + gy + 13.0 * f + 31.0 * i) % 256
            frame = np.stack(
                [base, (base * 2) % 256, (255 - base)], axis=2
            ) + rng.uniform(-8, 8, size=(h, w, 3))
            frames.append(np.clip(frame, 0, 255).astype(np.uint8))
        mjpeg = i % 4 == 3  # 3 of 12 clips exercise the compressed codec
        data = encode_avi(frames, fps=fps, codec="mjpeg" if mjpeg else "rawvideo")
        if mjpeg:
            frames = decode_avi(data)[0]  # golden = decoded frames
        clips.append(
            {
                "clip_id": f"vid_{i:03d}",
                "bytes": data,
                "fps": fps,
                "duration_sec": n_frames / fps,
                "w": w,
                "h": h,
                "codec": "mjpeg" if mjpeg else "rawvideo",
            }
        )
        step = max(1, int(round(1.0 * fps)))  # every_sec=1.0 sampling
        for fidx in range(0, n_frames, step):
            fr = frames[fidx].astype(np.float64)
            gold.append(
                {
                    "clip_id": f"vid_{i:03d}",
                    "frame_idx": fidx,
                    "ts_sec": round(fidx / fps, 4),
                    "mean_r": round(float(fr[:, :, 0].mean()), 4),
                    "mean_g": round(float(fr[:, :, 1].mean()), 4),
                    "mean_b": round(float(fr[:, :, 2].mean()), 4),
                }
            )
    pd.DataFrame(clips).to_parquet(out_dir / "video_clips.parquet", index=False)
    pd.DataFrame(gold).to_parquet(
        out_dir / "expected_video_features.parquet", index=False
    )


def _write_ena_fixture(out_dir: Path) -> None:
    """S9 fixture: ENA experiment / run / study / analysis sheets shaped
    like the reference converters' inputs (ExperimentsFileConverter /
    AnalysesFileConverter field lists), with planted XML-hostile
    characters (& < > ") and optional-field NULLs so escaping and the
    conditional-element branches are all exercised."""
    import hashlib

    import pandas as pd

    strategies = ["ChIP-Seq", "WGS", "RNA-Seq", "ATAC-seq"]
    platforms = [
        ("ILLUMINA", "Illumina HiSeq 2500"),
        ("OXFORD_NANOPORE", "MinION"),
    ]
    nasty = ['R&D <lot "7">', "plain", "a<b", 'say "hi" & bye']
    exps = []
    for i in range(64):
        layout = "PAIRED" if i % 2 else "SINGLE"
        plat, model = platforms[i % 2]
        exps.append(
            {
                "experiment_alias": f"EXP_{i:04d}",
                "title": f"Experiment {i} {nasty[i % 4]}",
                "study_ref": f"STD_{i % 16:04d}",
                "design_description": f"design {nasty[(i + 1) % 4]}",
                "sample_descriptor": f"SAMEA{7000000 + i}",
                "library_name": None if i % 5 == 2 else f"lib_{i:03d}",
                "library_strategy": strategies[i % 4],
                "library_source": "GENOMIC" if i % 3 else "TRANSCRIPTOMIC",
                "library_selection": ["ChIP", "RANDOM", "cDNA"][i % 3],
                "library_layout": layout,
                "nominal_length": 250 + 10 * i if layout == "PAIRED" else None,
                "library_construction_protocol": (
                    None if i % 7 == 3 else f"protocol v{i % 4}"
                ),
                "platform": plat,
                "instrument_model": model,
                "secondary_project": None if i % 4 else "AQUA-FAANG",
                "experimental_protocol": f"https://data.faang.org/protocol/exp_{i % 3}.pdf",
            }
        )
    runs = []
    for i in range(64):
        paired = i % 2 == 1
        ck = hashlib.md5(f"run{i}".encode()).hexdigest()
        ck2 = hashlib.md5(f"run{i}p".encode()).hexdigest()
        runs.append(
            {
                "run_alias": f"RUN_{i:04d}",
                "run_center": None if i % 7 == 3 else "FAANG",
                # both date grains the reference's strptime ladder accepts,
                # plus NULL (attribute omitted)
                "run_date": (
                    None
                    if i % 11 == 5
                    else (
                        f"2024-{i % 12 + 1:02d}"
                        if i % 3 == 2
                        else f"2024-{i % 12 + 1:02d}-{i % 28 + 1:02d}"
                    )
                ),
                "experiment_ref": f"EXP_{i:04d}",
                "filename": f"run_{i:04d}_R1.fastq.gz",
                "filetype": "fastq",
                "checksum_method": "MD5",
                "checksum": ck,
                "filename_pair": f"run_{i:04d}_R2.fastq.gz" if paired else None,
                "filetype_pair": "fastq" if paired else None,
                "checksum_method_pair": "MD5" if paired else None,
                "checksum_pair": ck2 if paired else None,
            }
        )
    studies = [
        {
            "study_alias": f"STD_{i:04d}",
            "study_title": f"Study {i} {nasty[i % 4]}",
            "study_type": [
                "Whole Genome Sequencing",
                "Transcriptome Analysis",
                "Epigenetics",
                "Other",
            ][i % 4],
            "study_abstract": None if i % 5 == 4 else f"abstract {nasty[(i + 2) % 4]}",
        }
        for i in range(16)
    ]
    analyses = []
    for i in range(32):
        n_files = i % 2 + 1
        analyses.append(
            {
                "alias": f"AN_{i:04d}",
                "title": f"Analysis {i} {nasty[i % 4]}",
                "description": f"aligned reads {nasty[(i + 3) % 4]}",
                "study": f"PRJEB{40000 + i % 16}",
                "samples": [f"SAMEA{7000000 + j}" for j in range(i % 3 + 1)],
                "experiments": [f"EXP_{j:04d}" for j in range(i % 3)],
                "runs": [f"RUN_{j:04d}" for j in range(i % 2)],
                "related_analyses": [f"AN_{i - 1:04d}"] if i % 6 == 5 else [],
                "file_names": [f"an_{i:04d}_{k}.bam" for k in range(n_files)],
                "file_types": ["bam"] * n_files,
                "checksum_methods": ["MD5"] * n_files,
                "checksums": [
                    hashlib.md5(f"an{i}_{k}".encode()).hexdigest()
                    for k in range(n_files)
                ],
                "analysis_type": [
                    "REFERENCE_ALIGNMENT",
                    "SEQUENCE_VARIATION",
                    "PROCESSED_READS",
                ][i % 3],
                "project": "FAANG",
                "secondary_project": None if i % 4 else "AQUA-FAANG",
                "assay_type": "whole genome sequencing assay",
                "analysis_protocol": f"https://data.faang.org/protocol/an_{i % 4}.pdf",
                "analysis_code": None if i % 5 == 1 else "https://github.com/example/pipeline",
                "reference_genome": ["Sscrofa11.1", "ARS-UCD1.2"][i % 2],
                "analysis_center": "FAANG",
                "analysis_date": f"2024-0{i % 9 + 1}-15",
            }
        )
    exps_df = pd.DataFrame(exps)
    exps_df["nominal_length"] = exps_df["nominal_length"].astype("Int64")
    exps_df.to_parquet(out_dir / "ena_experiments.parquet", index=False)
    pd.DataFrame(runs).to_parquet(out_dir / "ena_runs.parquet", index=False)
    pd.DataFrame(studies).to_parquet(out_dir / "ena_studies.parquet", index=False)
    pd.DataFrame(analyses).to_parquet(out_dir / "ena_analyses.parquet", index=False)


def _write_graphql_fixture(out_dir: Path) -> None:
    """J4 catalog fixture: dataset / file / article tables shaped like the
    reference's ES indices, exercising a dotted multi-valued LEFT key
    (``dataset.file.name`` through an array<struct>) and a dotted
    multi-valued RIGHT key (``article.relatedDatasets.accession``) —
    grapheneObjects/constants.py:14-181 semantics."""
    import pandas as pd

    datasets, files, articles = [], [], []
    for i in range(40):
        fl = [{"name": f"f_{i}_{j}.bam"} for j in range(i % 4)]
        if i % 5 == 0 and i > 0:
            fl.append({"name": f"shared_{i % 3}.bam"})
        datasets.append(
            {
                "accession": f"DS{i:03d}",
                "species": ["Sus scrofa", "Bos taurus"][i % 2],
                "file": fl,
            }
        )
        for j in range(i % 4):
            files.append(
                {
                    "name": f"f_{i}_{j}.bam",
                    "size_mb": (i * 7 + j) % 100,
                    "experiment": {"accession": f"EXP{i:03d}"},
                }
            )
    for k in range(3):
        files.append(
            {
                "name": f"shared_{k}.bam",
                "size_mb": 5 + k,
                "experiment": {"accession": f"EXPS{k:02d}"},
            }
        )
    files.append(
        {"name": "orphan.bam", "size_mb": 1, "experiment": {"accession": "EXPX"}}
    )
    for a in range(12):
        rel = [{"accession": f"DS{(a * 3 + d) % 40:03d}"} for d in range(a % 3 + 1)]
        articles.append(
            {"_id": f"A{a:02d}", "title": f"article {a}", "relatedDatasets": rel}
        )
    pd.DataFrame(datasets).to_parquet(out_dir / "gql_dataset.parquet", index=False)
    pd.DataFrame(files).to_parquet(out_dir / "gql_file.parquet", index=False)
    pd.DataFrame(articles).to_parquet(out_dir / "gql_article.parquet", index=False)


def _write_faang_fixture(out_dir: Path) -> None:
    """S2/X1 fixture: an organism sheet shaped like the reference's
    conversion output plus the pure-Python golden violations derived from
    the vendored FAANG metadata_rules JSON-Schema documents."""
    import pandas as pd

    rows = _faang_fixture_rows()
    pd.DataFrame(rows).to_parquet(out_dir / "samples_organism.parquet", index=False)
    pd.DataFrame(
        _faang_expected(rows), columns=["name", "field", "severity", "message"]
    ).to_parquet(out_dir / "expected_faang_violations.parquet", index=False)
    # ontology snapshots for the compiled ontology_ref rules (X2 path)
    pd.DataFrame(
        [
            ("PATO:0000001", "quality", None),
            ("PATO:0000047", "biological sex", "PATO:0000001"),
            ("PATO:0000383", "female", "PATO:0000047"),
            ("PATO:0000384", "male", "PATO:0000047"),
            ("PATO:0000461", "healthy", "PATO:0000001"),
        ],
        columns=["term", "label", "parent_term"],
    ).to_parquet(out_dir / "pato_snapshot.parquet", index=False)
    pd.DataFrame(
        [
            ("NCBITaxon:1", "root", None),
            ("NCBITaxon:9823", "Sus scrofa", "NCBITaxon:1"),
            ("NCBITaxon:9913", "Bos taurus", "NCBITaxon:1"),
        ],
        columns=["term", "label", "parent_term"],
    ).to_parquet(out_dir / "ncbitaxon_snapshot.parquet", index=False)


# Import-time materialization keeps the DuckDB oracle independent of the
# order the driver runs (oracle-before-Spark is fine). Must never make the
# module unimportable — every query fn re-invokes ensure_fixture() lazily.
try:
    ensure_fixture()
except Exception:  # pragma: no cover — driver-env safety net
    pass

_IMG = str(FIX_DIR / "image_caption")
_GT = str(FIX_DIR / "image_caption_gt.parquet")
_ONTO = str(FIX_DIR / "ontology_terms.parquet")
_EDGES = str(FIX_DIR / "sample_edges.parquet")
_EXP_VIOL = str(FIX_DIR / "expected_violations.parquet")
_EXP_VERD = str(FIX_DIR / "expected_verdicts.parquet")


def _load(spark):
    from ..sources.image_table import load_image_table

    ensure_fixture()
    return load_image_table(spark, _IMG)


def img_validate(spark, sf_dir):
    """The flagship: full validation pass (row rules ∥ uniqueness ∥
    broadcast referential ∥ Arrow decode ∥ ground-truth invariants) fused
    over one scan; oracle = the generator's independently-derived golden
    violation rows."""
    from ..plans.pipeline import build_violations

    df = _load(spark)
    onto = spark.read.parquet(_ONTO)
    gt = spark.read.parquet(_GT)
    return build_violations(df, ontology=onto, gt=gt)


IMG_VALIDATE_SQL = f"""
SELECT fmt, bucket, image_id, field, severity, message
FROM read_parquet('{_EXP_VIOL}')
"""


def img_verdicts(spark, sf_dir):
    """Per-partition pass/fail verdicts (A5 mapping) vs golden."""
    from ..plans.pipeline import build_verdicts, build_violations

    df = _load(spark)
    onto = spark.read.parquet(_ONTO)
    gt = spark.read.parquet(_GT)
    return build_verdicts(df, build_violations(df, ontology=onto, gt=gt))


IMG_VERDICTS_SQL = f"""
SELECT fmt, bucket, "pass", n_errors::BIGINT AS n_errors, n_warnings::BIGINT AS n_warnings
FROM read_parquet('{_EXP_VERD}')
"""


def img_column_stats(spark, sf_dir):
    """Per-partition column profile (A3/A7 mapping) for the numeric dims."""
    from ..operators.stats import column_stats

    df = _load(spark).select("fmt", "w", "h")
    s = column_stats(df, group_cols=["fmt"])
    return s.select(
        "fmt",
        "column",
        F.col("count").cast("long").alias("count"),
        F.col("n_null").cast("long").alias("n_null"),
        "min",
        "max",
        F.round("mean", 4).alias("mean"),
    ).orderBy("fmt", "column")


IMG_STATS_SQL = f"""
WITH img AS (SELECT fmt, w, h FROM read_parquet('{_IMG}'))
SELECT fmt, col AS "column", count, n_null, mn AS "min", mx AS "max", mean
FROM (
  SELECT fmt, 'w' AS col, count(*) AS count,
         sum(CASE WHEN w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         min(w)::DOUBLE AS mn, max(w)::DOUBLE AS mx, round(avg(w), 4) AS mean
  FROM img GROUP BY fmt
  UNION ALL
  SELECT fmt, 'h', count(*),
         sum(CASE WHEN h IS NULL THEN 1 ELSE 0 END)::BIGINT,
         min(h)::DOUBLE, max(h)::DOUBLE, round(avg(h), 4)
  FROM img GROUP BY fmt
) ORDER BY fmt, col
"""


def img_dup_phash(spark, sf_dir):
    """Duplicate detection on phash: one per-key count."""
    from ..operators.uniqueness import duplicate_keys

    return duplicate_keys(_load(spark), "phash").orderBy("phash")


IMG_DUP_SQL = f"""
SELECT phash, count(*) AS n FROM read_parquet('{_IMG}')
WHERE phash IS NOT NULL GROUP BY phash HAVING count(*) > 1 ORDER BY phash
"""


def img_drift_hist(spark, sf_dir):
    """Fixed-width histogram sketch per partition — the shuffle-side half
    of the drift check (KS/chi² runs driver-side on the sketch)."""
    from ..operators.drift import histogram_by_partition

    return histogram_by_partition(
        _load(spark), "w", ["fmt"], n_bins=8, lo=0.0, hi=64.0
    ).orderBy("fmt", "bin")


IMG_DRIFT_SQL = f"""
SELECT fmt,
       least(7, greatest(0, floor((w::DOUBLE - 0.0) / 8.0)))::INT AS bin,
       count(*) AS n
FROM read_parquet('{_IMG}')
WHERE w IS NOT NULL GROUP BY 1, 2 ORDER BY fmt, bin
"""


_SAMPLES = str(FIX_DIR / "samples_dates.parquet")


def samples_date_unit(spark, sf_dir):
    """F3/date_unit rule over a FAANG-shaped samples sheet: each
    collection_date must parse under the format its units column names
    (strict regex + calendar validity); oracle reimplements the ladder
    with DuckDB try_strptime."""
    from ..rules.compiler import violations_for
    from ..rules.model import Rule, Ruleset

    ensure_fixture()
    df = spark.read.parquet(_SAMPLES)
    rs = Ruleset(
        table="samples",
        rules=(
            Rule("collection_date", "date_unit", "mandatory", {"units_col": "units"}),
        ),
    )
    return violations_for(df, rs, keep_cols=["name"]).orderBy("name")


SAMPLES_DATE_SQL = f"""
SELECT name, 'collection_date' AS field, 'error' AS severity,
       'Date units: ' || units || ' should be consistent with date value: '
         || collection_date AS message
FROM read_parquet('{_SAMPLES}')
WHERE collection_date IS NOT NULL AND trim(collection_date) <> ''
  AND (
    (units = 'YYYY-MM-DD' AND (
       NOT regexp_matches(collection_date, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$')
       OR try_strptime(collection_date, '%Y-%m-%d') IS NULL))
    OR (units = 'YYYY-MM' AND (
       NOT regexp_matches(collection_date, '^\\d{{4}}-\\d{{2}}$')
       OR try_strptime(collection_date, '%Y-%m') IS NULL))
    OR (units = 'YYYY' AND (
       NOT regexp_matches(collection_date, '^\\d{{4}}$')
       OR try_strptime(collection_date, '%Y') IS NULL))
  )
ORDER BY name
"""


_BREEDS = str(FIX_DIR / "samples_breeds.parquet")
_ONTO_BREEDS = str(FIX_DIR / "ontology_breeds.parquet")


def samples_breed_check(spark, sf_dir):
    """X2 graph restriction: each breed term must descend from its
    species' breed-root node — closure computed once driver-side and
    broadcast; oracle walks the hierarchy with a recursive CTE."""
    from ..operators.referential import ancestor_closure, subclass_violations

    ensure_fixture()
    df = spark.read.parquet(_BREEDS)
    onto = spark.read.parquet(_ONTO_BREEDS)
    return subclass_violations(
        df,
        term_col="breed_term",
        required_root_col="breed_root",
        closure=ancestor_closure(onto),
        keep_cols=["name"],
        text_col="breed_text",
        species_col="species",
    ).orderBy("name")


BREED_CHECK_SQL = f"""
WITH RECURSIVE onto AS (
  SELECT term, label, parent_term FROM read_parquet('{_ONTO_BREEDS}')
),
closure(term, ancestor) AS (
  SELECT term, term FROM onto
  UNION ALL
  SELECT c.term, o.parent_term
  FROM closure c JOIN onto o ON o.term = c.ancestor
  WHERE o.parent_term IS NOT NULL
)
SELECT s.name, 'breed_term' AS field, 'error' AS severity,
       'Breed ''' || s.breed_text || ''' doesn''t match the animal specie: '''
         || s.species || '''' AS message
FROM read_parquet('{_BREEDS}') s
WHERE NOT EXISTS (
  SELECT 1 FROM closure c
  WHERE c.term = s.breed_term AND c.ancestor = s.breed_root
)
ORDER BY name
"""


def samples_rule_checks(spark, sf_dir):
    """Driver-window fusion of samples_date_unit (F3 date-unit ladder)
    and samples_breed_check (X2 graph restriction): identical
    (name, field, severity, message) shape, disjoint ``field`` values,
    so one slot certifies both rule families; the originals stay in
    PYTEST_QUERIES."""
    return (
        samples_date_unit(spark, sf_dir)
        .unionByName(samples_breed_check(spark, sf_dir))
        .orderBy("field", "name")
    )


def _samples_rule_checks_sql() -> str:
    date_body = SAMPLES_DATE_SQL.rsplit("ORDER BY", 1)[0]
    breed_with, breed_select = BREED_CHECK_SQL.split("SELECT s.name", 1)
    breed_body = "SELECT s.name" + breed_select.rsplit("ORDER BY", 1)[0]
    return (
        f"{breed_with.strip()}\n"
        f"SELECT * FROM ({date_body}) \n"
        f"UNION ALL\n"
        f"SELECT * FROM ({breed_body})\n"
        f"ORDER BY field, name"
    )


_WB_XLSX = str(FIX_DIR / "submission.xlsx")
_WB_EXPECTED = str(FIX_DIR / "workbook_expected.parquet")


def s1_workbook_ingest(spark, sf_dir):
    """S1/S3/S4 driver row: read the fixture .xlsx (from-scratch OOXML
    reader), resolve headers against the sheet templates, project nested
    records, and flatten every cell plus every header-level issue to
    (sheet, name, section, field, value, units, term) — hash-checked
    against a golden computed by an independent pure-Python mirror of
    the reference semantics (ReadExcelFile.py:140-470)."""
    from functools import reduce

    from ..sources.sheet_ingest import SheetSpec, project_records
    from ..sources.xlsx import workbook_to_dataframes

    ensure_fixture()
    dfs = workbook_to_dataframes(spark, _WB_XLSX)

    def q(ident: str) -> str:
        return "`" + ident.replace("`", "``") + "`"

    parts = []
    for sheet, spec_d in _WB_SPECS.items():
        out, res = project_records(
            dfs[sheet],
            SheetSpec(
                name=sheet,
                core_fields=spec_d["core"],
                type_fields=spec_d["type"],
                mandatory=spec_d["mandatory"],
            ),
        )
        name = F.col("core.sample_name.value").alias("name")

        def flat(section: str, fld: str):
            base = f"{section}.{q(fld)}"
            return out.select(
                F.lit(sheet).alias("sheet"),
                name,
                F.lit(section).alias("section"),
                F.lit(fld).alias("field"),
                F.col(f"{base}.value").alias("value"),
                F.col(f"{base}.units").alias("units"),
                F.col(f"{base}.term").alias("term"),
            )

        parts += [flat("core", f) for f in res.core]
        parts += [flat("type", f) for f in res.type_]
        parts += [
            out.select(
                F.lit(sheet).alias("sheet"),
                name,
                F.lit("custom").alias("section"),
                F.lit(c).alias("field"),
                F.col(f"custom.{q(c)}").alias("value"),
                F.lit(None).cast("string").alias("units"),
                F.lit(None).cast("string").alias("term"),
            )
            for c in res.custom
        ]
        if res.issues:
            parts.append(
                spark.createDataFrame(
                    [(sheet, sheet, "issue", f, m, None, None) for f, m in res.issues],
                    "sheet string, name string, section string, field string, "
                    "value string, units string, term string",
                )
            )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy(
        "sheet", "name", "section", "field"
    )


WB_INGEST_SQL = f"""
SELECT sheet, name, section, field, value, units, term
FROM read_parquet('{_WB_EXPECTED}')
ORDER BY sheet, name, section, field
"""


def samples_label_match(spark, sf_dir):
    """J7/F5 label consistency: breed display text must equal the
    ontology label case-insensitively (check_ols semantics, F6 message)."""
    from ..operators.referential import label_match_violations

    ensure_fixture()
    df = spark.read.parquet(_BREEDS)
    onto = spark.read.parquet(_ONTO_BREEDS)
    return label_match_violations(
        df,
        term_col="breed_term",
        text_col="breed_text",
        lookup=onto,
        keep_cols=["name"],
    ).orderBy("name")


LABEL_MATCH_SQL = f"""
SELECT s.name, 'breed_text' AS field, 'warning' AS severity,
       'Provided value ''' || s.breed_text || ''' doesn''t precisely match '''
         || o.label || ''' for term ''' || s.breed_term || '''' AS message
FROM read_parquet('{_BREEDS}') s
JOIN read_parquet('{_ONTO_BREEDS}') o ON o.term = s.breed_term
WHERE lower(s.breed_text) <> lower(o.label)
ORDER BY name
"""


_FAANG_SHEET = str(FIX_DIR / "samples_organism.parquet")
_EXP_FAANG = str(FIX_DIR / "expected_faang_violations.parquet")


def samples_faang_schema(spark, sf_dir):
    """S2/X1 end-to-end: the vendored FAANG ``metadata_rules.json``
    documents (public dcc-metadata format — tier via
    ``properties.mandatory.const``, ontology cells via text/term/
    ontology_name, core/type schema split) compile to the declarative
    Ruleset + SheetSpec, and the organism sheet validates through the
    standard sheet path. Oracle = the independent pure-Python golden
    derived by walking the schema JSON directly."""
    import dataclasses

    from ..rules.faang_schema import organism_ruleset
    from ..sources.sheet_ingest import validate_sheet

    ensure_fixture()
    rs, spec = organism_ruleset()
    # 'Sample Name' is a sheet-level column, not a schema property — the
    # reference derives record names from it outside the ruleset
    # (validation/helpers.py:28-47); resolve it so names don't fall back
    spec = dataclasses.replace(spec, type_fields=spec.type_fields + ("sample_name",))
    df = spark.read.parquet(_FAANG_SHEET)
    return validate_sheet(df, spec, rs, name_field="sample_name").orderBy(
        "name", "field", "message"
    )


FAANG_SCHEMA_SQL = f"""
SELECT name, field, severity, message
FROM read_parquet('{_EXP_FAANG}')
ORDER BY name, field, message
"""


_GQL_DS = str(FIX_DIR / "gql_dataset.parquet")
_GQL_FILE = str(FIX_DIR / "gql_file.parquet")
_GQL_ART = str(FIX_DIR / "gql_article.parquet")


def g2_catalog_joins(spark, sf_dir):
    """J4: the shipped 35-pair index_mapping catalog drives a join with a
    dotted multi-valued LEFT key ((dataset, file): 'file.name' through an
    array<struct>) and a dotted multi-valued RIGHT key ((dataset,
    article): 'relatedDatasets.accession'). Nested results flatten to
    counts + sorted id lists so the oracle can hash them."""
    from .join_api import fetch_with_join

    ensure_fixture()
    tables = {
        "dataset": spark.read.parquet(_GQL_DS),
        "file": spark.read.parquet(_GQL_FILE),
        "article": spark.read.parquet(_GQL_ART),
    }
    out = fetch_with_join(tables, "dataset", {"join": {"file": {}, "article": {}}})

    def _agg(col: str, key: str):
        n = (
            F.when(F.col(col).isNull(), F.lit(0))
            .otherwise(F.size(col))
            .cast("long")
        )
        names = F.when(F.col(col).isNull(), F.lit("")).otherwise(
            F.array_join(F.array_sort(F.transform(F.col(col), lambda x: x[key])), ",")
        )
        return n, names

    n_files, file_names = _agg("file_joined", "name")
    n_articles, article_ids = _agg("article", "_id")
    return out.select(
        "accession",
        n_files.alias("n_files"),
        file_names.alias("file_names"),
        n_articles.alias("n_articles"),
        article_ids.alias("article_ids"),
    ).orderBy("accession")


G2_CATALOG_SQL = f"""
WITH ds AS (SELECT * FROM read_parquet('{_GQL_DS}')),
fl AS (SELECT * FROM read_parquet('{_GQL_FILE}')),
art AS (SELECT * FROM read_parquet('{_GQL_ART}')),
ds_fk AS (
  SELECT accession, u.name AS fname
  FROM (SELECT accession, unnest(file) AS u FROM ds)
),
files_agg AS (
  SELECT k.accession, count(*)::BIGINT AS n_files,
         string_agg(f.name, ',' ORDER BY f.name) AS file_names
  FROM ds_fk k JOIN fl f ON f.name = k.fname
  GROUP BY k.accession
),
art_fk AS (
  SELECT _id, u.accession AS ds_acc
  FROM (SELECT _id, unnest(relatedDatasets) AS u FROM art)
),
arts_agg AS (
  SELECT ak.ds_acc AS accession, count(*)::BIGINT AS n_articles,
         string_agg(ak._id, ',' ORDER BY ak._id) AS article_ids
  FROM art_fk ak JOIN ds d ON d.accession = ak.ds_acc
  GROUP BY ak.ds_acc
)
SELECT d.accession,
       coalesce(f.n_files, 0) AS n_files,
       coalesce(f.file_names, '') AS file_names,
       coalesce(a.n_articles, 0) AS n_articles,
       coalesce(a.article_ids, '') AS article_ids
FROM ds d
LEFT JOIN files_agg f ON f.accession = d.accession
LEFT JOIN arts_agg a ON a.accession = d.accession
ORDER BY d.accession
"""


_PATO = str(FIX_DIR / "pato_snapshot.parquet")
_NCBI = str(FIX_DIR / "ncbitaxon_snapshot.parquet")


def samples_faang_onto(spark, sf_dir):
    """X2 via the compiled schema: the organism ruleset's ontology_ref
    rules execute against vendored PATO/NCBITaxon snapshots — dangling
    term, label precision, graph restriction (include_self honoured).
    Oracle reimplements all three families with recursive CTEs."""
    from ..rules.faang_schema import ontology_violations_for, organism_ruleset

    ensure_fixture()
    rs, _spec = organism_ruleset()
    df = spark.read.parquet(_FAANG_SHEET)
    onts = {
        "PATO": spark.read.parquet(_PATO),
        "NCBITaxon": spark.read.parquet(_NCBI),
    }
    return ontology_violations_for(
        df, rs, onts, keep_cols=["sample_name"]
    ).orderBy("sample_name", "field", "message")


FAANG_ONTO_SQL = f"""
WITH RECURSIVE sheet AS (SELECT * FROM read_parquet('{_FAANG_SHEET}')),
pato AS (SELECT * FROM read_parquet('{_PATO}')),
ncbi AS (SELECT * FROM read_parquet('{_NCBI}')),
pato_closure(term, ancestor) AS (
  SELECT term, term FROM pato
  UNION ALL
  SELECT c.term, o.parent_term FROM pato_closure c
  JOIN pato o ON o.term = c.ancestor WHERE o.parent_term IS NOT NULL
),
ncbi_closure(term, ancestor) AS (
  SELECT term, term FROM ncbi
  UNION ALL
  SELECT c.term, o.parent_term FROM ncbi_closure c
  JOIN ncbi o ON o.term = c.ancestor WHERE o.parent_term IS NOT NULL
),
sex_valid AS (
  SELECT lower(term) AS t FROM pato_closure
  WHERE ancestor = 'PATO:0000047' AND term <> 'PATO:0000047'
),
org_valid AS (
  SELECT lower(term) AS t FROM ncbi_closure WHERE ancestor = 'NCBITaxon:1'
)
SELECT sample_name, field, severity, message FROM (
  -- organism__term: dangling / label / graph (include_self=true)
  SELECT s.sample_name, 'organism__term' AS field, 'error' AS severity,
         'Couldn''t find term ''' || s.organism__term ||
         ''' in ontology for field ''organism__term''' AS message
  FROM sheet s WHERE s.organism__term IS NOT NULL
    AND lower(s.organism__term) NOT IN (SELECT lower(term) FROM ncbi)
  UNION ALL
  SELECT s.sample_name, 'organism', 'warning',
         'Provided value ''' || s.organism || ''' doesn''t precisely match '''
           || o.label || ''' for term ''' || s.organism__term || ''''
  FROM sheet s JOIN ncbi o ON o.term = s.organism__term
  WHERE s.organism IS NOT NULL AND lower(s.organism) <> lower(o.label)
  UNION ALL
  SELECT s.sample_name, 'organism__term', 'error',
         'Provided term ''' || s.organism__term ||
         ''' is not child of ''NCBITaxon:1'''
  FROM sheet s WHERE s.organism__term IS NOT NULL
    AND lower(s.organism__term) IN (SELECT lower(term) FROM ncbi)
    AND lower(s.organism__term) NOT IN (SELECT t FROM org_valid)
  -- sex__term: dangling / label / graph (include_self=false)
  UNION ALL
  SELECT s.sample_name, 'sex__term', 'error',
         'Couldn''t find term ''' || s.sex__term ||
         ''' in ontology for field ''sex__term'''
  FROM sheet s WHERE s.sex__term IS NOT NULL
    AND lower(s.sex__term) NOT IN (SELECT lower(term) FROM pato)
  UNION ALL
  SELECT s.sample_name, 'sex', 'warning',
         'Provided value ''' || s.sex || ''' doesn''t precisely match '''
           || o.label || ''' for term ''' || s.sex__term || ''''
  FROM sheet s JOIN pato o ON o.term = s.sex__term
  WHERE s.sex IS NOT NULL AND lower(s.sex) <> lower(o.label)
  UNION ALL
  SELECT s.sample_name, 'sex__term', 'error',
         'Provided term ''' || s.sex__term ||
         ''' is not child of ''PATO:0000047'''
  FROM sheet s WHERE s.sex__term IS NOT NULL
    AND lower(s.sex__term) IN (SELECT lower(term) FROM pato)
    AND lower(s.sex__term) NOT IN (SELECT t FROM sex_valid)
  -- health_status__term: dangling / label (no graph restriction)
  UNION ALL
  SELECT s.sample_name, 'health_status__term', 'error',
         'Couldn''t find term ''' || s.health_status__term ||
         ''' in ontology for field ''health_status__term'''
  FROM sheet s WHERE s.health_status__term IS NOT NULL
    AND lower(s.health_status__term) NOT IN (SELECT lower(term) FROM pato)
  UNION ALL
  SELECT s.sample_name, 'health_status', 'warning',
         'Provided value ''' || s.health_status ||
         ''' doesn''t precisely match ''' || o.label || ''' for term ''' ||
         s.health_status__term || ''''
  FROM sheet s JOIN pato o ON o.term = s.health_status__term
  WHERE s.health_status IS NOT NULL
    AND lower(s.health_status) <> lower(o.label)
)
ORDER BY sample_name, field, message
"""


def img_annotated_overlay(spark, sf_dir):
    """S6 annotated-template sink as a wide overlay: per row key, one
    ``<field>_issues`` column with the sorted severity:message list;
    oracle rebuilds the same overlay from the golden violation rows."""
    from ..plans.pipeline import build_annotated, build_violations

    df = _load(spark)
    onto = spark.read.parquet(_ONTO)
    gt = spark.read.parquet(_GT)
    viol = build_violations(df, ontology=onto, gt=gt)
    return build_annotated(df, viol)


_ANNOT_AGGS = ",\n       ".join(
    f"coalesce(string_agg(CASE WHEN field = '{fld}' THEN m END, '|' ORDER BY m), '')"
    f" AS {fld}_issues"
    for fld in ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
)

IMG_ANNOTATED_SQL = f"""
WITH keys AS (
  SELECT DISTINCT fmt, bucket, image_id FROM read_parquet('{_IMG}')
),
v AS (
  SELECT fmt, bucket, image_id, field,
         severity || ':' || message AS m
  FROM read_parquet('{_EXP_VIOL}')
),
agg AS (
  SELECT fmt, bucket, image_id,
       {_ANNOT_AGGS}
  FROM v GROUP BY 1, 2, 3
)
SELECT k.fmt, k.bucket, k.image_id,
       coalesce(a.image_id_issues, '') AS image_id_issues,
       coalesce(a.bytes_issues, '') AS bytes_issues,
       coalesce(a.w_issues, '') AS w_issues,
       coalesce(a.h_issues, '') AS h_issues,
       coalesce(a.fmt_issues, '') AS fmt_issues,
       coalesce(a.caption_issues, '') AS caption_issues,
       coalesce(a.phash_issues, '') AS phash_issues
FROM keys k LEFT JOIN agg a
  ON a.fmt = k.fmt AND a.bucket = k.bucket AND a.image_id = k.image_id
"""


def img_phash_neardup(spark, sf_dir):
    """Image near-dup pairs by perceptual-hash Hamming banding — the
    image-side LSH (exact phash groups miss re-encoded images that
    differ by a few bits). Deterministic near neighbors are derived
    in-query: each image contributes a 1-bit-flipped phash twin (flip
    position = pmod(phash, 63), engine-reproducible), and the banded
    join must recover every original↔twin pair at hamming 1 plus the
    planted exact-dup pairs at hamming 0 — with 8 bands × radius 6,
    recall is exact by pigeonhole, verified by bit_count(xor) on both
    engines."""
    from ..operators.dedup import phash_neardup_pairs

    ensure_fixture()
    img = spark.read.parquet(_IMG).select("image_id", "phash")
    noisy = img.select(
        F.concat(F.lit("n_"), F.col("image_id")).alias("image_id"),
        F.col("phash")
        .bitwiseXOR(F.expr("shiftleft(1L, int(pmod(phash, 63)))"))
        .alias("phash"),
    )
    return phash_neardup_pairs(
        img.unionByName(noisy), max_hamming=6, n_bands=8
    ).orderBy("id_a", "id_b")


IMG_PHASH_NEARDUP_SQL = f"""
WITH img AS (SELECT image_id, phash FROM read_parquet('{_IMG}')),
noisy AS (
  SELECT 'n_' || image_id AS image_id,
         xor(phash, 1::BIGINT << (((phash % 63) + 63) % 63)) AS phash
  FROM img
),
allp AS (SELECT * FROM img UNION ALL SELECT * FROM noisy),
bands AS (
  SELECT image_id AS id, phash, b.band,
         (phash >> (b.band * 8)) & 255 AS key
  FROM allp, (SELECT unnest(range(0, 8)) AS band) b
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, a.phash AS ph_a, b.phash AS ph_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT DISTINCT id_a, id_b, bit_count(xor(ph_a, ph_b))::INT AS hamming
FROM cand
WHERE bit_count(xor(ph_a, ph_b)) <= 6
ORDER BY id_a, id_b
"""


_TAXON = str(FIX_DIR / "taxon_snapshot.parquet")
_SAMPLES_TAXON = str(FIX_DIR / "samples_taxon.parquet")


def j12_taxon_enrichment(spark, sf_dir):
    """J12: broadcast taxon-snapshot enrichment (case-insensitive name
    match) plus dangling-organism violations folded into one output —
    found rows carry the id/scientific name, unmatched rows a NULL pair."""
    from ..operators.referential import enrich_taxon

    ensure_fixture()
    df = spark.read.parquet(_SAMPLES_TAXON)
    taxon = spark.read.parquet(_TAXON)
    return (
        enrich_taxon(df, taxon, organism_col="organism")
        .select("name", "organism", "taxon_id", "scientific_name")
        .orderBy("name")
    )


J12_TAXON_SQL = f"""
SELECT s.name, s.organism, t.taxon_id::BIGINT AS taxon_id, t.scientific_name
FROM read_parquet('{_SAMPLES_TAXON}') s
LEFT JOIN read_parquet('{_TAXON}') t ON lower(t.name) = lower(s.organism)
ORDER BY s.name
"""


_AUDIO = str(FIX_DIR / "audio_clips.parquet")
_EXP_AUDIO = str(FIX_DIR / "expected_audio_features.parquet")


def av_audio_features(spark, sf_dir):
    """Multimodal audio: REAL PCM WAV decode (stdlib codec) through the
    Arrow mapInPandas stage; oracle = golden features computed directly
    on the quantized int16 signal at fixture-generation time."""
    from ..multimodal.av import audio_features

    ensure_fixture()
    df = spark.read.parquet(_AUDIO).select(
        "clip_id",
        "bytes",
        F.struct(
            "sample_rate", "n_channels", "duration_sec", "codec"
        ).alias("meta"),
    )
    return audio_features(df).orderBy("clip_id")


AV_AUDIO_SQL = f"""
SELECT clip_id, rms, peak, zero_crossings
FROM read_parquet('{_EXP_AUDIO}')
ORDER BY clip_id
"""


_VIDEO = str(FIX_DIR / "video_clips.parquet")
_EXP_VIDEO = str(FIX_DIR / "expected_video_features.parquet")


def av_video_frames(spark, sf_dir):
    """Multimodal video: REAL uncompressed-AVI decode (stdlib RIFF/DIB
    reader) through the Arrow mapInPandas stage — per-sampled-frame
    channel means computed inside the decode stage so raw frames never
    shuffle; oracle = golden features computed directly on the generated
    frames at fixture-build time."""
    from ..multimodal.av import video_frame_features

    ensure_fixture()
    df = spark.read.parquet(_VIDEO).select(
        "clip_id",
        "bytes",
        F.struct("fps", "duration_sec", "w", "h", "codec").alias("meta"),
    )
    return video_frame_features(df, every_sec=1.0).orderBy(
        "clip_id", "frame_idx"
    )


AV_VIDEO_SQL = f"""
SELECT clip_id, frame_idx, ts_sec, mean_r, mean_g, mean_b
FROM read_parquet('{_EXP_VIDEO}')
ORDER BY clip_id, frame_idx
"""


_RELEASE = "2026-08-17T00:00:00Z"  # fixed release stamp (deterministic docs)


def s8_biosamples_json(spark, sf_dir):
    """S8: BioSamples submission payloads as one JVM concat per record
    (taxon-resolved rows only; unresolved rows are j12's violation path).
    The oracle rebuilds the exact document bytes with SQL concatenation."""
    from ..sources.submission_sinks import biosamples_payloads

    ensure_fixture()
    df = spark.read.parquet(_SAMPLES_TAXON)
    taxon = spark.read.parquet(_TAXON)
    return biosamples_payloads(df, taxon, release=_RELEASE).orderBy("name")


def _json_esc_sql(expr: str) -> str:
    from ..sources.submission_sinks import json_escape_sql

    return json_escape_sql(expr)


# names/scientific names in the fixture are escape-clean, but the oracle
# mirrors the engine's full json_escape chain so a future fixture with
# hostile characters can't silently diverge
S8_BIOSAMPLES_SQL = f"""
SELECT s.name,
       '{{"name":"' || {_json_esc_sql('s.name')} || '","release":"{_RELEASE}","taxId":' ||
       t.taxon_id ||
       ',"characteristics":{{"organism":[{{"text":"' || {_json_esc_sql('t.scientific_name')} ||
       '","ontologyTerms":["http://purl.obolibrary.org/obo/NCBITaxon_' ||
       t.taxon_id || '"]}}]}}}}' AS payload
FROM read_parquet('{_SAMPLES_TAXON}') s
JOIN read_parquet('{_TAXON}') t ON lower(t.name) = lower(s.organism)
ORDER BY s.name
"""


def s9_ena_sample_xml(spark, sf_dir):
    """S9: ENA <SAMPLE> submission XML per taxon-resolved record, built
    entirely from whole-column expressions (no lxml, no driver loop)."""
    from ..sources.submission_sinks import ena_sample_xml

    ensure_fixture()
    df = spark.read.parquet(_SAMPLES_TAXON)
    taxon = spark.read.parquet(_TAXON)
    return ena_sample_xml(df, taxon, attribute_cols=["organism"]).orderBy("name")


# mirror submission_sinks.xml_escape / xml_escape_attr byte-for-byte
# (fixture values are escape-clean today; the mirroring keeps a future
# hostile fixture from diverging silently — same class as the S8 JSON fix)
_X = "replace(replace(replace({e}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
_XA = "replace(" + _X + ", chr(34), '&quot;')"

S9_ENA_XML_SQL = f"""
SELECT s.name,
       '<SAMPLE alias="' || {_XA.format(e='s.name')} ||
       '" center_name="FAANG"><TITLE>' || {_X.format(e='s.name')} ||
       '</TITLE><SAMPLE_NAME><TAXON_ID>' || t.taxon_id ||
       '</TAXON_ID><SCIENTIFIC_NAME>' || {_X.format(e='t.scientific_name')} ||
       '</SCIENTIFIC_NAME></SAMPLE_NAME><SAMPLE_ATTRIBUTES>' ||
       '<SAMPLE_ATTRIBUTE><TAG>organism</TAG><VALUE>' || {_X.format(e='s.organism')} ||
       '</VALUE></SAMPLE_ATTRIBUTE>' ||
       '</SAMPLE_ATTRIBUTES></SAMPLE>' AS xml
FROM read_parquet('{_SAMPLES_TAXON}') s
JOIN read_parquet('{_TAXON}') t ON lower(t.name) = lower(s.organism)
ORDER BY s.name
"""


_ENA_EXP = str(FIX_DIR / "ena_experiments.parquet")
_ENA_RUN = str(FIX_DIR / "ena_runs.parquet")
_ENA_STD = str(FIX_DIR / "ena_studies.parquet")
_ENA_AN = str(FIX_DIR / "ena_analyses.parquet")


def _esc_sql(expr: str, attr: bool = False) -> str:
    from ..sources.submission_sinks import xml_escape_sql

    return xml_escape_sql(expr, attr=attr)


def s9b_ena_run_xml(spark, sf_dir):
    """S9b: ENA <RUN> docs (EXPERIMENT_REF + DATA_BLOCK/FILES with the
    paired-file branch and the reference's strptime-ladder run_date →
    isoformat attribute), whole-column concat, no UDF."""
    from ..sources.submission_sinks import ena_run_xml

    ensure_fixture()
    return ena_run_xml(spark.read.parquet(_ENA_RUN)).orderBy("alias")


S9B_ENA_RUN_SQL = f"""
SELECT run_alias AS alias,
  '<RUN alias="' || {_esc_sql('run_alias', attr=True)} || '"'
  || CASE WHEN run_center IS NOT NULL
          THEN ' run_center="' || {_esc_sql('run_center', attr=True)} || '"' ELSE '' END
  || CASE WHEN run_date IS NOT NULL
             AND coalesce(try_strptime(run_date, '%Y-%m-%d'),
                          try_strptime(run_date, '%Y-%m')) IS NOT NULL
          THEN ' run_date="' || strftime(
                 coalesce(try_strptime(run_date, '%Y-%m-%d'),
                          try_strptime(run_date, '%Y-%m')),
                 '%Y-%m-%dT%H:%M:%S') || '"'
          ELSE '' END
  || '><EXPERIMENT_REF refname="' || {_esc_sql('experiment_ref', attr=True)} || '"/><DATA_BLOCK><FILES>'
  || '<FILE filename="' || {_esc_sql('filename', attr=True)} || '" filetype="' || {_esc_sql('filetype', attr=True)}
  || '" checksum_method="' || {_esc_sql('checksum_method', attr=True)} || '" checksum="' || {_esc_sql('checksum', attr=True)} || '"/>'
  || CASE WHEN filename_pair IS NOT NULL
          THEN '<FILE filename="' || {_esc_sql('filename_pair', attr=True)} || '" filetype="' || {_esc_sql('filetype_pair', attr=True)}
               || '" checksum_method="' || {_esc_sql('checksum_method_pair', attr=True)}
               || '" checksum="' || {_esc_sql('checksum_pair', attr=True)} || '"/>'
          ELSE '' END
  || '</FILES></DATA_BLOCK></RUN>' AS xml
FROM read_parquet('{_ENA_RUN}')
ORDER BY alias
"""


def s9c_ena_experiment_xml(spark, sf_dir):
    """S9c: ENA <EXPERIMENT> docs — DESIGN/LIBRARY_DESCRIPTOR with the
    SINGLE|PAIRED layout branch, optional library name/protocol, the
    platform-named PLATFORM child element, and the FAANG
    EXPERIMENT_ATTRIBUTES section (null-skipped TAG/VALUE entries)."""
    from ..sources.submission_sinks import ena_experiment_xml

    ensure_fixture()
    return ena_experiment_xml(
        spark.read.parquet(_ENA_EXP),
        attribute_cols=["secondary_project", "experimental_protocol"],
    ).orderBy("alias")


S9C_ENA_EXP_SQL = f"""
SELECT experiment_alias AS alias,
  '<EXPERIMENT alias="' || {_esc_sql('experiment_alias', attr=True)} || '"><TITLE>'
  || {_esc_sql('title')}
  || '</TITLE><STUDY_REF refname="' || {_esc_sql('study_ref', attr=True)} || '"/><DESIGN><DESIGN_DESCRIPTION>'
  || {_esc_sql('design_description')}
  || '</DESIGN_DESCRIPTION><SAMPLE_DESCRIPTOR refname="' || {_esc_sql('sample_descriptor', attr=True)}
  || '"/><LIBRARY_DESCRIPTOR>'
  || CASE WHEN library_name IS NOT NULL
          THEN '<LIBRARY_NAME>' || {_esc_sql('library_name')} || '</LIBRARY_NAME>' ELSE '' END
  || '<LIBRARY_STRATEGY>' || {_esc_sql('library_strategy')} || '</LIBRARY_STRATEGY>'
  || '<LIBRARY_SOURCE>' || {_esc_sql('library_source')} || '</LIBRARY_SOURCE>'
  || '<LIBRARY_SELECTION>' || {_esc_sql('library_selection')} || '</LIBRARY_SELECTION>'
  || CASE WHEN library_layout = 'PAIRED' AND nominal_length IS NOT NULL
          THEN '<LIBRARY_LAYOUT><PAIRED NOMINAL_LENGTH="' || nominal_length::BIGINT
               || '"/></LIBRARY_LAYOUT>'
          WHEN library_layout = 'PAIRED'
          THEN '<LIBRARY_LAYOUT><PAIRED/></LIBRARY_LAYOUT>'
          ELSE '<LIBRARY_LAYOUT><SINGLE/></LIBRARY_LAYOUT>' END
  || CASE WHEN library_construction_protocol IS NOT NULL
          THEN '<LIBRARY_CONSTRUCTION_PROTOCOL>' || {_esc_sql('library_construction_protocol')}
               || '</LIBRARY_CONSTRUCTION_PROTOCOL>'
          ELSE '' END
  || '</LIBRARY_DESCRIPTOR></DESIGN><PLATFORM><' || platform
  || '><INSTRUMENT_MODEL>' || {_esc_sql('instrument_model')} || '</INSTRUMENT_MODEL></'
  || platform || '></PLATFORM>'
  || '<EXPERIMENT_ATTRIBUTES>'
  || CASE WHEN secondary_project IS NOT NULL
          THEN '<EXPERIMENT_ATTRIBUTE><TAG>secondary_project</TAG><VALUE>'
               || {_esc_sql('secondary_project')} || '</VALUE></EXPERIMENT_ATTRIBUTE>'
          ELSE '' END
  || CASE WHEN experimental_protocol IS NOT NULL
          THEN '<EXPERIMENT_ATTRIBUTE><TAG>experimental_protocol</TAG><VALUE>'
               || {_esc_sql('experimental_protocol')} || '</VALUE></EXPERIMENT_ATTRIBUTE>'
          ELSE '' END
  || '</EXPERIMENT_ATTRIBUTES></EXPERIMENT>' AS xml
FROM read_parquet('{_ENA_EXP}')
ORDER BY alias
"""


def s9f_ena_submission_xml(spark, sf_dir):
    """S9f: ENA <SUBMISSION> wrapper docs — ACTIONS(ADD, HOLD
    [HoldUntilDate] | RELEASE); hold date column null → RELEASE branch
    (FileConverter.generate_submission_xml's private/public split)."""
    from ..sources.submission_sinks import ena_submission_xml

    ensure_fixture()
    df = spark.read.parquet(_ENA_RUN).select(
        F.col("run_alias").alias("alias"), F.col("run_date").alias("hold")
    )
    return ena_submission_xml(df, hold_until_col="hold").orderBy("alias")


S9F_ENA_SUB_SQL = f"""
SELECT run_alias AS alias,
  '<SUBMISSION alias="' || {_esc_sql('run_alias', attr=True)}
  || '"><ACTIONS><ACTION><ADD/></ACTION>'
  || CASE WHEN run_date IS NOT NULL
          THEN '<ACTION><HOLD HoldUntilDate="' || {_esc_sql('run_date', attr=True)} || '"/></ACTION>'
          ELSE '<ACTION><RELEASE/></ACTION>' END
  || '</ACTIONS></SUBMISSION>' AS xml
FROM read_parquet('{_ENA_RUN}')
ORDER BY alias
"""


def s9d_ena_study_xml(spark, sf_dir):
    """S9d: ENA <STUDY> docs — DESCRIPTOR with STUDY_TYPE attribute and
    optional STUDY_ABSTRACT."""
    from ..sources.submission_sinks import ena_study_xml

    ensure_fixture()
    return ena_study_xml(spark.read.parquet(_ENA_STD)).orderBy("alias")


S9D_ENA_STD_SQL = f"""
SELECT study_alias AS alias,
  '<STUDY alias="' || {_esc_sql('study_alias', attr=True)} || '"><DESCRIPTOR><STUDY_TITLE>'
  || {_esc_sql('study_title')}
  || '</STUDY_TITLE><STUDY_TYPE existing_study_type="' || {_esc_sql('study_type', attr=True)} || '"/>'
  || CASE WHEN study_abstract IS NOT NULL
          THEN '<STUDY_ABSTRACT>' || {_esc_sql('study_abstract')} || '</STUDY_ABSTRACT>'
          ELSE '' END
  || '</DESCRIPTOR></STUDY>' AS xml
FROM read_parquet('{_ENA_STD}')
ORDER BY alias
"""


def s9e_ena_analysis_xml(spark, sf_dir):
    """S9e: ENA <ANALYSIS> docs — accession-ref lists flattened with
    transform/zip_with (one projection, no explode), zipped FILE arrays,
    and the FAANG ANALYSIS_ATTRIBUTES block with null-skipped tags."""
    from ..sources.submission_sinks import ena_analysis_xml

    ensure_fixture()
    return ena_analysis_xml(spark.read.parquet(_ENA_AN)).orderBy("alias")


_AN_ATTR_SQL = "\n  || ".join(
    f"""CASE WHEN {col} IS NOT NULL
          THEN '<ANALYSIS_ATTRIBUTE><TAG>{tag}</TAG><VALUE>' || {_esc_sql(col)}
               || '</VALUE></ANALYSIS_ATTRIBUTE>'
          ELSE '' END"""
    for col, tag in [
        ("project", "Project"),
        ("secondary_project", "Secondary Project"),
        ("assay_type", "Assay Type"),
        ("analysis_protocol", "Analysis Protocol"),
        ("analysis_code", "Analysis code"),
        ("reference_genome", "Reference genome"),
        ("analysis_center", "Analysis center"),
        ("analysis_date", "Analysis date"),
    ]
)

S9E_ENA_AN_SQL = f"""
SELECT alias,
  '<ANALYSIS alias="' || {_esc_sql('alias', attr=True)} || '"><TITLE>'
  || {_esc_sql('title')}
  || '</TITLE><DESCRIPTION>'
  || {_esc_sql('description')}
  || '</DESCRIPTION><STUDY_REF accession="' || {_esc_sql('study', attr=True)} || '"/>'
  || coalesce(array_to_string(list_transform(samples,
       x -> '<SAMPLE_REF accession="' || {_esc_sql('x', attr=True)} || '"/>'), ''), '')
  || coalesce(array_to_string(list_transform(experiments,
       x -> '<EXPERIMENT_REF accession="' || {_esc_sql('x', attr=True)} || '"/>'), ''), '')
  || coalesce(array_to_string(list_transform(runs,
       x -> '<RUN_REF accession="' || {_esc_sql('x', attr=True)} || '"/>'), ''), '')
  || coalesce(array_to_string(list_transform(related_analyses,
       x -> '<ANALYSIS_REF accession="' || {_esc_sql('x', attr=True)} || '"/>'), ''), '')
  || '<ANALYSIS_TYPE><' || analysis_type || '/></ANALYSIS_TYPE><FILES>'
  || array_to_string(list_transform(range(1, len(file_names) + 1),
       i -> '<FILE filename="' || {_esc_sql('file_names[i]', attr=True)} || '" filetype="' || {_esc_sql('file_types[i]', attr=True)}
            || '" checksum_method="' || {_esc_sql('checksum_methods[i]', attr=True)}
            || '" checksum="' || {_esc_sql('checksums[i]', attr=True)} || '"/>'), '')
  || '</FILES><ANALYSIS_ATTRIBUTES>'
  || {_AN_ATTR_SQL}
  || '</ANALYSIS_ATTRIBUTES></ANALYSIS>' AS xml
FROM read_parquet('{_ENA_AN}')
ORDER BY alias
"""


def rel_violations(spark, sf_dir):
    """Relationship checks (J5/J8/J9): dangling parent, material-pair
    whitelist, species equality, mutual-parent cycle — all as 1-hop
    self-joins; oracle reimplements them in SQL."""
    from ..operators.relationships import relationship_violations

    ensure_fixture()
    edges = spark.read.parquet(_EDGES)
    return relationship_violations(edges).orderBy("name", "field", "message")


_ALLOWED = {
    "organism": ["organism"],
    "specimen from organism": ["organism"],
    "pool of specimens": ["specimen from organism"],
    "cell specimen": ["specimen from organism"],
    "cell culture": ["specimen from organism", "cell specimen"],
    "cell line": ["organism"],
}
_ALLOWED_PAIRS = ",\n  ".join(
    f"('{m}', '{p}')" for m, ps in _ALLOWED.items() for p in ps
)
_ALLOWED_STR = ",\n  ".join(f"('{m}', '{', '.join(ps)}')" for m, ps in _ALLOWED.items())

REL_SQL = f"""
WITH e AS (SELECT * FROM read_parquet('{_EDGES}')),
linked AS (SELECT * FROM e WHERE parent IS NOT NULL),
allowed_pairs(material, parent_material) AS (VALUES
  {_ALLOWED_PAIRS}
),
allowed_str(material, s) AS (VALUES
  {_ALLOWED_STR}
),
joined AS (
  SELECT l.name, l.material, l.organism, l.parent,
         p.name AS p_name, p.material AS p_material,
         p.organism AS p_organism, p.parent AS p_parent
  FROM linked l JOIN e p ON p.name = l.parent
)
SELECT name, field, severity, message FROM (
  SELECT l.name, 'parent' AS field, 'error' AS severity,
         'Relationships part: no entity ''' || l.parent || ''' found' AS message
  FROM linked l WHERE NOT EXISTS (SELECT 1 FROM e p WHERE p.name = l.parent)
  UNION ALL
  SELECT j.name, 'parent', 'error',
         'Relationships part: referenced entity ''' || j.p_name ||
         ''' does not match condition ''should be ' || a.s || ''''
  FROM joined j JOIN allowed_str a ON a.material = j.material
  WHERE NOT EXISTS (SELECT 1 FROM allowed_pairs ap
                    WHERE ap.material = j.material AND ap.parent_material = j.p_material)
  UNION ALL
  SELECT j.name, 'organism', 'error',
         'Relationships part: the specie of the child ''' || j.organism ||
         ''' doesn''t match the specie of the parent ''' || j.p_organism || ''''
  FROM joined j
  WHERE j.material = 'organism' AND j.p_material = 'organism'
        AND j.organism <> j.p_organism
  UNION ALL
  SELECT j.name, 'parent', 'error',
         'Relationships part: parent ''' || j.p_name || ''' lists ''' ||
         j.name || ''' as its own parent'
  FROM joined j WHERE j.p_parent = j.name
) ORDER BY name, field, message
"""


QUERIES = {
    "img_validate": (img_validate, IMG_VALIDATE_SQL),
    "img_verdicts": (img_verdicts, IMG_VERDICTS_SQL),
    "img_column_stats": (img_column_stats, IMG_STATS_SQL),
    "img_dup_phash": (img_dup_phash, IMG_DUP_SQL),
    "img_phash_neardup": (img_phash_neardup, IMG_PHASH_NEARDUP_SQL),
    "img_drift_hist": (img_drift_hist, IMG_DRIFT_SQL),
    "img_annotated_overlay": (img_annotated_overlay, IMG_ANNOTATED_SQL),
    "samples_faang_schema": (samples_faang_schema, FAANG_SCHEMA_SQL),
    "samples_faang_onto": (samples_faang_onto, FAANG_ONTO_SQL),
    "g2_catalog_joins": (g2_catalog_joins, G2_CATALOG_SQL),
    "j12_taxon_enrichment": (j12_taxon_enrichment, J12_TAXON_SQL),
    "s8_biosamples_json": (s8_biosamples_json, S8_BIOSAMPLES_SQL),
    "av_audio_features": (av_audio_features, AV_AUDIO_SQL),
    "av_video_frames": (av_video_frames, AV_VIDEO_SQL),
    "s9_ena_sample_xml": (s9_ena_sample_xml, S9_ENA_XML_SQL),
    "s9b_ena_run_xml": (s9b_ena_run_xml, S9B_ENA_RUN_SQL),
    "s9c_ena_experiment_xml": (s9c_ena_experiment_xml, S9C_ENA_EXP_SQL),
    "s9d_ena_study_xml": (s9d_ena_study_xml, S9D_ENA_STD_SQL),
    "s9e_ena_analysis_xml": (s9e_ena_analysis_xml, S9E_ENA_AN_SQL),
    "s9f_ena_submission_xml": (s9f_ena_submission_xml, S9F_ENA_SUB_SQL),
    "samples_rule_checks": (samples_rule_checks, _samples_rule_checks_sql()),
    "s1_workbook_ingest": (s1_workbook_ingest, WB_INGEST_SQL),
    "samples_label_match": (samples_label_match, LABEL_MATCH_SQL),
    "rel_violations": (rel_violations, REL_SQL),
}

# Hash-checked by tests/test_pytest_pack.py and check_oracle --all; their
# semantics ride the driver window inside samples_rule_checks.
PYTEST_QUERIES = {
    "samples_date_unit": (samples_date_unit, SAMPLES_DATE_SQL),
    "samples_breed_check": (samples_breed_check, BREED_CHECK_SQL),
}
