"""Deterministic DwC-A zip fixtures for the archive source tests and the
``dwca_star_check`` oracle. Byte-stable: fixed member order, fixed
timestamps, no compression (stored) — re-running produces identical zips.

The integrity archive mirrors the REFERENCE'S test semantics (orphan
extension id "ZZ", case-sensitive id pairs, duplicate core ids, an
empty coreid row — cf. ReferentialIntegrityEvaluatorTest golden ids) over
synthetic occurrence data of our own.
"""

from __future__ import annotations

import os
import zipfile

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "dwca",
)

META_XML = """<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>occurrence.txt</location></files>
    <id index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/scientificName"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/country"/>
    <field term="http://rs.tdwg.org/dwc/terms/basisOfRecord" default="HumanObservation"/>
  </core>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Identification">
    <files><location>identification.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/identificationID"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/identifiedBy"/>
  </extension>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.gbif.org/terms/1.0/Identifier">
    <files><location>identifier.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://purl.org/dc/terms/identifier"/>
  </extension>
</archive>
"""

EML_XML = """<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1" packageId="fixture.1" system="fixture">
  <dataset>
    <title>Integrity fixture dataset</title>
    <creator><organizationName>Fixture Org</organizationName></creator>
    <contact><organizationName>Fixture Org</organizationName></contact>
    <pubDate>2020-01-01</pubDate>
    <abstract><para>Synthetic occurrences for star-referential tests, long enough for the content lint.</para></abstract>
    <intellectualRights><para>CC0</para></intellectualRights>
  </dataset>
</eml:eml>
"""

# core: ids o1..o8 + case pair O7 + duplicate o5
OCCURRENCE = "id\toccurrenceID\tscientificName\tcountry\n" + "".join(
    f"{i}\t{i}-occ\tSpecies {n}\tDK\n"
    for n, i in enumerate(
        ["o1", "o2", "o3", "o4", "o5", "o5", "o6", "o7", "O7", "o8"]
    )
)

# extension rows: all core ids linked, PLUS orphan ZZ, PLUS an empty coreid
IDENTIFICATION = "coreid\tidentificationID\tidentifiedBy\n" + "".join(
    f"{c}\tident-{n}\tchecker\n"
    for n, c in enumerate(
        ["o1", "o2", "o3", "o4", "o5", "o6", "o7", "O7", "o8", "ZZ", ""]
    )
)

# second extension: numeric ids that never match the core (all orphans)
IDENTIFIER = "coreid\tidentifier\n1\talt-1\n2\talt-2\no3\talt-3\n"

# --- event-core archive: the round-5 registry breadth battery — Event
# core + MeasurementOrFact / ResourceRelationship / Audubon Multimedia /
# ChronometricAge extensions, all structurally clean.
EVENT_META_XML = """<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Event">
    <files><location>event.txt</location></files>
    <id index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/eventID"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/eventDate"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/samplingProtocol"/>
    <field index="4" term="http://rs.tdwg.org/dwc/terms/countryCode"/>
  </core>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/MeasurementOrFact">
    <files><location>measurementorfact.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/measurementType"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/measurementValue"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/measurementUnit"/>
  </extension>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/ResourceRelationship">
    <files><location>resourcerelationship.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/relatedResourceID"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/relationshipOfResource"/>
  </extension>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/ac/terms/Multimedia">
    <files><location>multimedia.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://purl.org/dc/terms/identifier"/>
    <field index="2" term="http://rs.tdwg.org/ac/terms/accessURI"/>
    <field index="3" term="http://rs.tdwg.org/ac/terms/pixelXDimension"/>
  </extension>
  <extension encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/chrono/terms/ChronometricAge">
    <files><location>chronometricage.txt</location></files>
    <coreid index="0" />
    <field index="1" term="http://rs.tdwg.org/chrono/terms/chronometricAgeProtocol"/>
    <field index="2" term="http://rs.tdwg.org/chrono/terms/earliestChronometricAge"/>
  </extension>
</archive>
"""

EVENT_CORE = (
    "id\teventID\teventDate\tsamplingProtocol\tcountryCode\n"
    "e1\te1\t2019-06-01\tmalaise trap\tSE\n"
    "e2\te2\t2019-06-08\tmalaise trap\tSE\n"
)
EVENT_MOF = (
    "coreid\tmeasurementType\tmeasurementValue\tmeasurementUnit\n"
    "e1\tair temperature\t18.5\tC\n"
    "e2\tair temperature\t17.0\tC\n"
)
EVENT_RELATIONSHIP = (
    "coreid\trelatedResourceID\trelationshipOfResource\n"
    "e2\te1\tsame site as\n"
)
EVENT_MULTIMEDIA = (
    "coreid\tidentifier\taccessURI\tpixelXDimension\n"
    "e1\timg-1\thttps://media.example.org/img-1.png\t640\n"
)
EVENT_CHRONO = (
    "coreid\tchronometricAgeProtocol\tearliestChronometricAge\n"
    "e1\tradiocarbon\t1200\n"
)

# --- interpretation archive: planted per-record interpretation violations
# (dates / coordinates / vocabulary / measurements) + ragged rows for the
# COLUMN_MISMATCH raw-line check. One violation class per row, clean rows
# r01/r15 pin the fuzzy-accept paths.
INTERP_META_XML = """<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>occurrence.txt</location></files>
    <id index="0" />
    <field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/eventDate"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/decimalLatitude"/>
    <field index="4" term="http://rs.tdwg.org/dwc/terms/decimalLongitude"/>
    <field index="5" term="http://rs.tdwg.org/dwc/terms/basisOfRecord"/>
    <field index="6" term="http://rs.tdwg.org/dwc/terms/countryCode"/>
    <field index="7" term="http://rs.tdwg.org/dwc/terms/minimumElevationInMeters"/>
    <field index="8" term="http://rs.tdwg.org/dwc/terms/maximumElevationInMeters"/>
  </core>
</archive>
"""

INTERP_ROWS = [
    # id, occID, eventDate, lat, lon, basis, cc, minElev, maxElev
    ("r01", "2001-05-12", "55.68", "12.57", "HumanObservation", "DK", "10", "20"),
    ("r02", "12 Floreal X", "55.68", "12.57", "HumanObservation", "DK", "10", "20"),
    ("r03", "1492-10-12", "55.68", "12.57", "HumanObservation", "DK", "10", "20"),
    ("r04", "2001-05-12", "91.5", "12.0", "HumanObservation", "DK", "10", "20"),
    ("r05", "2001-05-12", "abc", "12.0", "HumanObservation", "DK", "10", "20"),
    ("r06", "2001-05-12", "0", "0", "HumanObservation", "DK", "10", "20"),
    ("r07", "2001-05-12", "200", "12.0", "HumanObservation", "DK", "10", "20"),
    ("r08", "2001-05-12", "55.68", "12.57", "FlyingSaucer", "DK", "10", "20"),
    ("r09", "2001-05-12", "55.68", "12.57", "HumanObservation", "XX", "10", "20"),
    ("r10", "2001-05-12", "55.68", "12.57", "HumanObservation", "DK", "high", ""),
    ("r11", "2001-05-12", "55.68", "12.57", "HumanObservation", "DK", "500", "100"),
    ("r12", "2001-05-12", "55.68", "12.57", "HumanObservation", "DK", "9999", "9999"),
    ("r15", "2001-05", "55.68", "12.57", "preserved_specimen", "dk", "-100", "0"),
]

INTERP_OCCURRENCE = (
    "id\toccurrenceID\teventDate\tdecimalLatitude\tdecimalLongitude"
    "\tbasisOfRecord\tcountryCode\tminimumElevationInMeters"
    "\tmaximumElevationInMeters\n"
    + "".join(
        "\t".join((r[0], f"{r[0]}-occ") + r[1:]) + "\n" for r in INTERP_ROWS
    )
    # ragged rows: one extra column (10), one short (6) — COLUMN_MISMATCH
    + "r13\tr13-occ\t2001-05-12\t55.68\t12.57\tHumanObservation\tDK\t10\t20\tEXTRA\n"
    + "r14\tr14-occ\t2001-05-12\t55.68\t12.57\tHumanObservation\n"
)

# core id at index 2 (not 0) plus a short ragged row that ends before the
# id column: COLUMN_MISMATCH must report the row with a NULL record id
RAGGED_META_XML = """<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>occurrence.txt</location></files>
    <id index="2" />
    <field index="0" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
    <field index="1" term="http://rs.tdwg.org/dwc/terms/basisOfRecord"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/countryCode"/>
  </core>
</archive>
"""

RAGGED_OCCURRENCE = (
    "occurrenceID\tbasisOfRecord\tid\tcountryCode\n"
    "g1-occ\tHumanObservation\tg1\tDK\n"
    "g2-occ\tHumanObservation\n"
)


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        for name in sorted(members):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, members[name])


def main() -> None:
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    _write_zip(
        os.path.join(FIXTURE_DIR, "integrity.zip"),
        {
            "meta.xml": META_XML,
            "eml.xml": EML_XML,
            "occurrence.txt": OCCURRENCE,
            "identification.txt": IDENTIFICATION,
            "identifier.txt": IDENTIFIER,
        },
    )
    # structural-issues archive: unknown rowtype ext, duplicated + unknown
    # terms in the core, Occurrence without occurrenceID or full triple
    meta_bad = META_XML.replace(
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>',
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/country"/>',
    ).replace(
        '<field index="2" term="http://rs.tdwg.org/dwc/terms/scientificName"/>',
        '<field index="2" term="http://example.org/terms/madeUpTerm"/>',
    ).replace(
        'rowType="http://rs.gbif.org/terms/1.0/Identifier"',
        'rowType="http://example.org/terms/MysteryRows"',
    )
    _write_zip(
        os.path.join(FIXTURE_DIR, "structure-issues.zip"),
        {
            "meta.xml": meta_bad,
            "eml.xml": EML_XML,
            "occurrence.txt": OCCURRENCE,
            "identification.txt": IDENTIFICATION,
            "identifier.txt": IDENTIFIER,
        },
    )
    # no meta.xml at all
    _write_zip(
        os.path.join(FIXTURE_DIR, "no-meta.zip"),
        {"eml.xml": EML_XML, "occurrence.txt": OCCURRENCE},
    )
    # schema-invalid EML: no packageId, no creator/contact, bad pubDate
    eml_bad = (
        EML_XML.replace(' packageId="fixture.1"', "")
        .replace("    <creator><organizationName>Fixture Org</organizationName></creator>\n", "")
        .replace("    <contact><organizationName>Fixture Org</organizationName></contact>\n", "")
        .replace("<pubDate>2020-01-01</pubDate>", "<pubDate>January 2020</pubDate>")
    )
    _write_zip(
        os.path.join(FIXTURE_DIR, "eml-issues.zip"),
        {
            "meta.xml": META_XML,
            "eml.xml": eml_bad,
            "occurrence.txt": OCCURRENCE,
            "identification.txt": IDENTIFICATION,
            "identifier.txt": IDENTIFIER,
        },
    )
    event_members = {
        "meta.xml": EVENT_META_XML,
        "eml.xml": EML_XML,
        "event.txt": EVENT_CORE,
        "measurementorfact.txt": EVENT_MOF,
        "resourcerelationship.txt": EVENT_RELATIONSHIP,
        "multimedia.txt": EVENT_MULTIMEDIA,
        "chronometricage.txt": EVENT_CHRONO,
    }
    _write_zip(os.path.join(FIXTURE_DIR, "event-core.zip"), event_members)
    # registry-required violation: MeasurementOrFact without its required
    # measurementType term (mapped to measurementRemarks instead)
    _write_zip(
        os.path.join(FIXTURE_DIR, "event-core-issues.zip"),
        {**event_members,
         "meta.xml": EVENT_META_XML.replace(
             'term="http://rs.tdwg.org/dwc/terms/measurementType"',
             'term="http://rs.tdwg.org/dwc/terms/measurementRemarks"',
         )},
    )
    _write_zip(
        os.path.join(FIXTURE_DIR, "interpretation.zip"),
        {
            "meta.xml": INTERP_META_XML,
            "eml.xml": EML_XML,
            "occurrence.txt": INTERP_OCCURRENCE,
        },
    )
    _write_zip(
        os.path.join(FIXTURE_DIR, "ragged-id-index.zip"),
        {
            "meta.xml": RAGGED_META_XML,
            "eml.xml": EML_XML,
            "occurrence.txt": RAGGED_OCCURRENCE,
        },
    )
    print(f"wrote fixtures to {FIXTURE_DIR}")


if __name__ == "__main__":
    main()
