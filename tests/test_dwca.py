"""DwC-A archive source: meta.xml descriptor parse, zip guards, native CSV
scan with Term aliasing, structural findings battery, and the star-schema
e2e with the reference's golden ids (orphan "ZZ", empty coreid —
ReferentialIntegrityEvaluatorTest semantics)."""

import os
import zipfile

import pytest

from gbif_data_validator_spark.sources import dwca

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "dwca")


def test_parse_meta_xml_descriptor():
    with zipfile.ZipFile(os.path.join(FIX, "integrity.zip")) as zf:
        desc = dwca.parse_meta_xml(zf.read("meta.xml"))
    assert desc.core.rowtype == dwca.OCCURRENCE_ROWTYPE
    assert desc.core.locations == ("occurrence.txt",)
    assert desc.core.id_index == 0 and desc.core.id_term is None
    assert desc.core.delimiter == "\t" and desc.core.ignore_header_lines == 1
    assert desc.core.encoding == "UTF-8" and desc.core.quote is None
    # constant default-value field has no index
    consts = [f for f in desc.core.fields if f.index is None]
    assert len(consts) == 1 and consts[0].default == "HumanObservation"
    assert [dwca.term_local(e.rowtype) for e in desc.extensions] == [
        "Identification", "Identifier",
    ]
    assert desc.metadata == "eml.xml"


def test_parse_meta_xml_structural_errors():
    with pytest.raises(dwca.DwcaError, match="exactly 1 core"):
        dwca.parse_meta_xml(b"<archive xmlns='http://rs.tdwg.org/dwc/text/'/>")
    with pytest.raises(dwca.DwcaError, match="not well-formed"):
        dwca.parse_meta_xml(b"<archive><core>")
    with pytest.raises(dwca.DwcaError, match="doctype/entity"):
        dwca.parse_meta_xml(b"<!DOCTYPE archive []><archive/>")
    # extension must carry <coreid>
    bad = b"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
      <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
        <files><location>a.txt</location></files><id index="0"/>
      </core>
      <extension rowType="http://rs.tdwg.org/dwc/terms/Identification">
        <files><location>b.txt</location></files>
        <field index="1" term="http://rs.tdwg.org/dwc/terms/identifiedBy"/>
      </extension></archive>"""
    with pytest.raises(dwca.DwcaError, match="without <coreid>"):
        dwca.parse_meta_xml(bad)


def test_extract_archive_guards(tmp_path):
    # path traversal
    evil = tmp_path / "evil.zip"
    with zipfile.ZipFile(evil, "w") as zf:
        zf.writestr("../outside.txt", "x")
    with pytest.raises(dwca.DwcaError, match="unsafe member path"):
        dwca.extract_archive(str(evil), str(tmp_path / "out1"))
    # not a zip
    notzip = tmp_path / "not.zip"
    notzip.write_bytes(b"plainly not a zip file")
    with pytest.raises(dwca.DwcaError, match="not a zip"):
        dwca.extract_archive(str(notzip), str(tmp_path / "out2"))
    # missing meta.xml → FileNotFoundError tier
    with pytest.raises(FileNotFoundError):
        dwca.extract_archive(
            os.path.join(FIX, "no-meta.zip"), str(tmp_path / "out3")
        )


def test_extract_accepts_unpacked_directory(tmp_path):
    dest = tmp_path / "unzipped"
    dwca.extract_archive(os.path.join(FIX, "integrity.zip"), str(dest))
    # a bare directory is a valid archive too (spec allows unpacked)
    desc, src = dwca.extract_archive(str(dest), str(tmp_path / "ignored"))
    assert desc.core.rowtype == dwca.OCCURRENCE_ROWTYPE and src == str(dest)


def test_structure_findings_batteries(tmp_path):
    clean = dwca.structure_findings(
        os.path.join(FIX, "integrity.zip"), str(tmp_path / "a")
    )
    assert clean == []
    issues = dwca.structure_findings(
        os.path.join(FIX, "structure-issues.zip"), str(tmp_path / "b")
    )
    types = sorted(f["evaluation_type"] for f in issues)
    assert types == [
        "DUPLICATED_TERM", "REQUIRED_TERM_MISSING", "UNKNOWN_ROWTYPE",
        "UNKNOWN_TERM",
    ]
    by_type = {f["evaluation_type"]: f for f in issues}
    assert by_type["DUPLICATED_TERM"]["term"].endswith("/country")
    assert by_type["REQUIRED_TERM_MISSING"]["term"] == "occurrenceID"
    assert by_type["UNKNOWN_TERM"]["term"].endswith("madeUpTerm")
    assert by_type["UNKNOWN_ROWTYPE"]["rowtype"].endswith("MysteryRows")
    missing = dwca.structure_findings(
        os.path.join(FIX, "no-meta.zip"), str(tmp_path / "c")
    )
    assert [f["evaluation_type"] for f in missing] == ["DWCA_META_XML_NOT_FOUND"]
    garbage = tmp_path / "garbage.zip"
    garbage.write_bytes(b"NOT A ZIP AT ALL")
    broken = dwca.structure_findings(str(garbage), str(tmp_path / "d"))
    assert [f["evaluation_type"] for f in broken] == ["DWCA_UNREADABLE"]


def test_read_dwca_columns_and_defaults(spark, tmp_path):
    desc, core, exts = dwca.read_dwca(
        spark, os.path.join(FIX, "integrity.zip"), str(tmp_path / "scan")
    )
    assert core.columns == [
        "id", "occurrenceID", "scientificName", "country", "basisOfRecord"
    ]
    rows = {r.id: r for r in core.collect()}
    assert len(core.collect()) == 10  # dup o5 kept (data rows, not keys)
    assert rows["o1"].occurrenceID == "o1-occ"
    # constant default column imputed declaratively (P4 analog)
    assert all(r.basisOfRecord == "HumanObservation" for r in rows.values())
    assert set(exts) == {"Identification", "Identifier"}
    ident, key = exts["Identification"]
    assert key == "id" and ident.columns == [
        "id", "identificationID", "identifiedBy"
    ]


def test_dwca_star_golden_ids(spark, tmp_path):
    """The reference's referential-integrity goldens over our own fixture:
    orphan extension coreid "ZZ" → RECORD_REFERENTIAL_INTEGRITY_VIOLATION,
    empty coreid → KEY_EMPTY, case-sensitive ids do NOT cross-link."""
    from gbif_data_validator_spark.plans.star import validate_star

    desc, core, exts = dwca.read_dwca(
        spark, os.path.join(FIX, "integrity.zip"), str(tmp_path / "scan")
    )
    v = validate_star(core, exts, core_key=dwca.core_id_column(desc)).collect()
    ri = sorted(
        r.url for r in v
        if r.check_id == "RECORD_REFERENTIAL_INTEGRITY_VIOLATION"
    )
    assert ri == ["1", "2", "ZZ"]  # ZZ golden + the two numeric orphans
    empty = [r for r in v if r.check_id == "KEY_EMPTY"]
    assert len(empty) == 1
    assert empty[0].partition_id == "ext:Identification"
    # O7 linked to core O7, o7 to o7 — never across case
    assert not any(r.url in ("o7", "O7") for r in v)


def test_read_archive_file_declared_limits(spark, tmp_path):
    desc, src = dwca.extract_archive(
        os.path.join(FIX, "integrity.zip"), str(tmp_path / "x")
    )
    from dataclasses import replace

    # a deeper header block is legal: each extra header line is one data
    # row fewer
    n_rows = dwca.read_archive_file(spark, src, desc.core).count()
    deep_header = replace(desc.core, ignore_header_lines=3)
    assert dwca.read_archive_file(spark, src, deep_header).count() == n_rows - 2
    out_of_range = replace(desc.core, id_index=99)
    with pytest.raises(dwca.DwcaError, match="out of range"):
        dwca.read_archive_file(spark, src, out_of_range)


def test_validate_dwca_gate(spark, tmp_path):
    """validate_dwca: blocking structural findings short-circuit (M6
    analog, DF is None); non-blocking term findings coexist with the
    record-level violations DF."""
    findings, v = dwca.validate_dwca(
        spark, os.path.join(FIX, "no-meta.zip"), str(tmp_path / "a")
    )
    assert v is None
    assert [f["evaluation_type"] for f in findings] == ["DWCA_META_XML_NOT_FOUND"]
    findings, v = dwca.validate_dwca(
        spark, os.path.join(FIX, "structure-issues.zip"), str(tmp_path / "b")
    )
    # term-level findings are advisory: record evaluation still runs
    assert v is not None and len(findings) == 4
    assert {r.url for r in v.collect() if
            r.check_id == "RECORD_REFERENTIAL_INTEGRITY_VIOLATION"} == {"ZZ", "1", "2"}
    findings, v = dwca.validate_dwca(
        spark, os.path.join(FIX, "integrity.zip"), str(tmp_path / "c")
    )
    assert findings == [] and v is not None


def test_eml_document_validation_units():
    from gbif_data_validator_spark.plans.metadata import (
        eml_to_meta,
        validate_eml_document,
    )

    valid = b"""<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1"
        packageId="p.1" system="s">
      <dataset>
        <title>A fine dataset title</title>
        <creator><individualName><surName>Doe</surName></individualName></creator>
        <contact><organizationName>Org</organizationName></contact>
        <pubDate>2021</pubDate>
        <abstract><para>Long enough description of the dataset contents.</para></abstract>
        <intellectualRights><para>CC-BY 4.0</para></intellectualRights>
      </dataset>
    </eml:eml>"""
    assert validate_eml_document(valid) == []
    meta = eml_to_meta(valid)
    assert meta["title"] == "A fine dataset title"
    assert meta["license"] == "CC-BY-4.0"
    assert "description" in meta
    # each violation tier
    assert validate_eml_document(b"<notxml") == [
        v for v in validate_eml_document(b"<notxml")
    ] and "not well-formed" in validate_eml_document(b"<notxml")[0]
    assert "doctype/entity" in validate_eml_document(
        b"<!DOCTYPE e []><eml/>"
    )[0]
    assert "expected <eml:eml>" in validate_eml_document(b"<dataset/>")[0]
    vs = validate_eml_document(
        b'<eml><dataset><title>t</title>'
        b'<creator><address/></creator>'
        b'<pubDate>January 2020</pubDate></dataset></eml>'
    )
    joined = "\n".join(vs)
    assert "missing required attribute 'packageId'" in joined
    assert "missing required <contact>" in joined
    assert "<creator> has none of" in joined
    assert "not YYYY" in joined


def test_eml_findings_through_archive(tmp_path):
    """The EML document battery rides the archive battery: declared-but-
    invalid EML → EML_GBIF_SCHEMA findings; the clean fixture stays
    clean; a declared-but-absent document → EML_NOT_FOUND."""
    clean = dwca.structure_findings(
        os.path.join(FIX, "integrity.zip"), str(tmp_path / "a")
    )
    assert clean == []
    issues = dwca.structure_findings(
        os.path.join(FIX, "eml-issues.zip"), str(tmp_path / "b")
    )
    types = [f["evaluation_type"] for f in issues]
    assert set(types) == {"EML_GBIF_SCHEMA"}
    msgs = "\n".join(f["term"] for f in issues)
    assert "packageId" in msgs and "creator" in msgs and "not YYYY" in msgs
    # declared metadata file missing entirely
    import zipfile as _zf

    gone = tmp_path / "gone-eml.zip"
    with _zf.ZipFile(os.path.join(FIX, "integrity.zip")) as src, \
         _zf.ZipFile(gone, "w") as dst:
        for n in src.namelist():
            if n != "eml.xml":
                dst.writestr(n, src.read(n))
    found = dwca.structure_findings(str(gone), str(tmp_path / "c"))
    assert [f["evaluation_type"] for f in found] == ["EML_NOT_FOUND"]


def test_parse_meta_xml_malformed_indices():
    """ADVICE r04: non-integer and negative index attributes are schema
    violations (DwcaError → DWCA_META_XML_SCHEMA), not bare ValueError
    crashes or silent Python negative indexing."""
    def arch(core_attrs="", id_attr='index="0"', field_attr='index="1"'):
        return (
            '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
            f'<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" {core_attrs}>'
            f'<files><location>a.txt</location></files><id {id_attr}/>'
            f'<field {field_attr} '
            'term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>'
            "</core></archive>"
        ).encode()

    with pytest.raises(dwca.DwcaError, match="non-integer id index"):
        dwca.parse_meta_xml(arch(id_attr='index="x"'))
    with pytest.raises(dwca.DwcaError, match="negative id index"):
        dwca.parse_meta_xml(arch(id_attr='index="-1"'))
    with pytest.raises(dwca.DwcaError, match="non-integer field index"):
        dwca.parse_meta_xml(arch(field_attr='index="1.5"'))
    with pytest.raises(dwca.DwcaError, match="negative field index"):
        dwca.parse_meta_xml(arch(field_attr='index="-2"'))
    with pytest.raises(dwca.DwcaError, match="non-integer ignoreHeaderLines"):
        dwca.parse_meta_xml(arch(core_attrs='ignoreHeaderLines="two"'))


def test_structure_findings_survives_malformed_index(tmp_path):
    """The crash ADVICE r04 confirmed: index="x" must surface as a
    DWCA_META_XML_SCHEMA finding from structure_findings, not escape as
    ValueError."""
    bad = tmp_path / "badidx.zip"
    with zipfile.ZipFile(bad, "w") as zf:
        zf.writestr("meta.xml", (
            '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
            '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence">'
            '<files><location>occurrence.txt</location></files>'
            '<id index="x"/>'
            '<field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>'
            "</core></archive>"
        ))
        zf.writestr("occurrence.txt", "1\tA\n")
    findings = dwca.structure_findings(str(bad), str(tmp_path / "w"))
    assert [f["evaluation_type"] for f in findings] == ["DWCA_META_XML_SCHEMA"]
    assert "non-integer id index" in findings[0]["term"]


def test_dwca_record_interpretation_battery(spark, tmp_path):
    """The reference's per-record pass wired onto DwC-A term columns
    (r04 verdict task #2): date parse/plausibility, coordinate
    zero/range/swap, vocabulary membership, elevation measurements, and
    raw-line COLUMN_MISMATCH — one planted violation per fixture row
    (OccurrenceInterpretationEvaluator.java:72-138 +
    RecordStructureEvaluator.java:35-56 semantics)."""
    findings, viol = dwca.validate_dwca(
        spark, os.path.join(FIX, "interpretation.zip"),
        str(tmp_path / "w"), record_checks=True,
    )
    assert findings == []
    got = sorted(
        (r["url"], r["check_id"])
        for r in viol.select("url", "check_id").collect()
    )
    assert got == [
        ("r02", "RECORDED_DATE_INVALID"),
        ("r03", "RECORDED_DATE_UNLIKELY"),
        ("r04", "PRESUMED_SWAPPED_COORDINATE"),
        ("r05", "COORDINATE_INVALID"),
        ("r06", "ZERO_COORDINATE"),
        ("r07", "COORDINATE_OUT_OF_RANGE"),
        ("r08", "BASIS_OF_RECORD_INVALID"),
        ("r09", "COUNTRY_INVALID"),
        ("r10", "ELEVATION_NON_NUMERIC"),
        ("r11", "ELEVATION_MIN_MAX_SWAPPED"),
        ("r12", "ELEVATION_UNLIKELY"),   # min column
        ("r12", "ELEVATION_UNLIKELY"),   # max column
        ("r13", "COLUMN_MISMATCH"),
        ("r14", "COLUMN_MISMATCH"),
    ]
    # partition labels the core stage; star stage absent (no extensions)
    assert set(
        r["partition_id"] for r in viol.select("partition_id").collect()
    ) == {"core:Occurrence"}
    # clean + fuzzy-accept rows (r01, r15: yyyy-MM date, preserved_specimen,
    # lowercase 'dk') are silent
    assert not {u for u, _ in got} & {"r01", "r15"}


def test_dwca_record_checks_absent_columns(spark):
    """Checks activate only for term columns present — a core with none of
    the interpreted terms yields an empty violations frame, not an error."""
    from gbif_data_validator_spark.operators.dwca_interpretation import (
        dwca_record_checks,
    )

    df = spark.createDataFrame([("a", "x")], "id string, scientificName string")
    out = dwca_record_checks(df, "id")
    assert out.count() == 0
    assert out.columns == ["record_id", "check_id", "expected", "found"]


def test_event_core_registry_breadth(spark, tmp_path):
    """r04 verdict task #4: Event core + MeasurementOrFact /
    ResourceRelationship / Audubon Multimedia / ChronometricAge extensions
    pass the structural battery cleanly; a required-term miss in the new
    registry entries still fires REQUIRED_TERM_MISSING; the star
    referential runs across all four extensions."""
    clean = dwca.structure_findings(
        os.path.join(FIX, "event-core.zip"), str(tmp_path / "a")
    )
    assert clean == []
    issues = dwca.structure_findings(
        os.path.join(FIX, "event-core-issues.zip"), str(tmp_path / "b")
    )
    assert [(f["evaluation_type"], f["term"]) for f in issues] == [
        ("REQUIRED_TERM_MISSING", "measurementType")
    ]
    findings, viol = dwca.validate_dwca(
        spark, os.path.join(FIX, "event-core.zip"), str(tmp_path / "c"),
        record_checks=True,
    )
    assert findings == []
    assert viol.count() == 0  # fully clean archive, all ext ids resolve
    desc, core, exts = dwca.read_dwca(
        spark, os.path.join(FIX, "event-core.zip"), str(tmp_path / "d")
    )
    assert set(exts) == {
        "MeasurementOrFact", "ResourceRelationship", "Multimedia",
        "ChronometricAge",
    }
    assert core.columns == [
        "id", "eventID", "eventDate", "samplingProtocol", "countryCode"
    ]


def test_country_user_assigned_codes_and_raw_byte_column_count(spark, tmp_path):
    """Review-found parity/edge fixes: (a) the reference's Country enum
    accepts user-assigned XK/ZZ/XZ — no COUNTRY_INVALID for them; (b) a
    stray 0x01 control byte inside a field must not corrupt the raw-line
    COLUMN_MISMATCH count (the raw read has no separator semantics)."""
    import zipfile as zf_mod

    from gbif_data_validator_spark.operators.dwca_interpretation import (
        dwca_record_checks,
    )

    df = spark.createDataFrame(
        [("a", "XK"), ("b", "ZZ"), ("c", "XZ"), ("d", "XX")],
        "id string, countryCode string",
    )
    got = {(r.record_id, r.check_id)
           for r in dwca_record_checks(df, "id").collect()}
    assert got == {("d", "COUNTRY_INVALID")}

    bad = tmp_path / "ctrl.zip"
    with zf_mod.ZipFile(bad, "w") as zf:
        zf.writestr("meta.xml", (
            '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
            '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence" '
            'ignoreHeaderLines="1" fieldsTerminatedBy="\\t">'
            "<files><location>occurrence.txt</location></files>"
            '<id index="0"/>'
            '<field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>'
            '<field index="2" term="http://rs.tdwg.org/dwc/terms/occurrenceRemarks"/>'
            "</core></archive>"
        ))
        zf.writestr(
            "occurrence.txt",
            "id\toccurrenceID\toccurrenceRemarks\n"
            "r1\tr1-occ\tremark with \x01 stray byte\n"   # 3 cols: clean
            "r2\tr2-occ\n",                               # 2 cols: mismatch
        )
    findings, viol = dwca.validate_dwca(
        spark, str(bad), str(tmp_path / "w"), record_checks=True
    )
    got = {(r.url, r.check_id, r.found)
           for r in viol.select("url", "check_id", "found").collect()}
    assert ("r2", "COLUMN_MISMATCH", "2") in got
    assert not any(u == "r1" for u, _, _ in got)


def test_column_mismatch_short_row_before_nonzero_id_index(spark, tmp_path):
    """A core whose id column is not the first (id index 2) with a short
    ragged row that ends before the id column: the row is a
    COLUMN_MISMATCH finding with a NULL record id — not an ANSI-mode
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT that aborts the whole run."""
    findings, viol = dwca.validate_dwca(
        spark, os.path.join(FIX, "ragged-id-index.zip"), str(tmp_path / "w"),
        record_checks=True,
    )
    got = [
        (r.url, r.expected, r.found)
        for r in viol.where("check_id = 'COLUMN_MISMATCH'").collect()
    ]
    assert got == [(None, "4", "2")]


def test_column_mismatch_skips_every_header_line_of_every_file(spark, tmp_path):
    """ignoreHeaderLines="2" over two location files whose header lines
    differ byte-wise: no header line of either file is read as a data row,
    and the expected count still comes from the first header line — the
    short row m3 is the only finding."""
    from gbif_data_validator_spark.operators.dwca_interpretation import (
        column_mismatch_findings,
    )

    desc, src_dir = dwca.extract_archive(
        os.path.join(FIX, "multi-header.zip"), str(tmp_path / "x")
    )
    assert desc.core.ignore_header_lines == 2 and len(desc.core.locations) == 2
    got = [
        (r.record_id, r.expected, r.found)
        for r in column_mismatch_findings(spark, src_dir, desc.core).collect()
    ]
    assert got == [("m3", "4", "3")]


def test_read_dwca_skips_every_header_line_of_every_file(spark, tmp_path):
    """ignoreHeaderLines="2" is a legal descriptor: read_dwca and
    validate_dwca read it, and the first two lines of each of the two
    location files are not data rows — five records, no title line and no
    header (with or without its trailing tab) among them."""
    path = os.path.join(FIX, "multi-header.zip")
    desc, core, exts = dwca.read_dwca(spark, path, str(tmp_path / "r"))
    assert exts == {}
    rows = sorted(tuple(r) for r in core.collect())
    assert rows == [
        ("m1", "m1-occ", "HumanObservation", "DK"),
        ("m2", "m2-occ", "HumanObservation", "DK"),
        ("m3", "m3-occ", "HumanObservation", None),
        ("m4", "m4-occ", "HumanObservation", "DK"),
        ("m5", "m5-occ", "HumanObservation", "DK"),
    ]

    findings, viol = dwca.validate_dwca(
        spark, path, str(tmp_path / "v"), record_checks=True
    )
    assert not any(f["evaluation_type"] in dwca.BLOCKING_FINDINGS for f in findings)
    got = sorted((r.url, r.check_id, r.found) for r in viol.collect())
    assert {u for u, _, _ in got} <= {"m1", "m2", "m3", "m4", "m5"}
    assert ("m3", "COLUMN_MISMATCH", "3") in got
