"""DwC-A (Darwin Core Archive) source: zip → meta.xml descriptor → typed
distributed scans feeding the star-schema validation plan.

Reference analog (WHAT, not how): the reference's primary input format —
archive open + per-file Term header mapping
(``validator-processor/src/main/java/org/gbif/validation/source/DataFileFactory.java:121-146``,
header extraction :226-248 via dwca-io) and the structural findings battery
(``evaluator/DwcaResourceStructureEvaluator.java:55-121``: meta.xml
missing/invalid, unknown rowtype, duplicated / required-missing / unknown
terms, Occurrence id-or-triple). The descriptor format is the public TDWG
Darwin Core text guidelines (meta.xml).

Spark-first design: an archive is ONE zip per dataset, so extraction is a
one-time driver-side IO step (stdlib zipfile, zip-bomb capped exactly like
the spreadsheet source); the extracted data files are then read by Spark's
NATIVE CSV scan — JVM-side, splittable, column-pruned — with the
descriptor's delimiter / quote / encoding and positional column → Term
aliasing applied declaratively. No Python touches a data row. At fleet
scale (millions of archives) the per-archive descriptor parse stays a
metadata operation and each archive's scan parallelizes over its file
splits; the star-referential pass that follows is the anti-join plan in
``plans/star.py`` (key-projected build side, one scan per table).
"""

from __future__ import annotations

import functools
import operator
import os
import re
import zipfile
from dataclasses import dataclass
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: decompressed-size cap per archive member (zip-bomb guard — checked
#: against the DECLARED size before any inflate, like the workbook source)
_MAX_MEMBER_BYTES = 4 * 1024 * 1024 * 1024
#: member-count cap: a DwC-A carries a handful of tabular files + meta/eml
_MAX_MEMBERS = 256
#: DOCTYPE/ENTITY declarations rejected outright (billion-laughs)
_XML_DTD_RE = re.compile(rb"<!(?:DOCTYPE|ENTITY)", re.IGNORECASE)

#: the id column name used when <id>/<coreid> carries no term attribute —
#: dwca-io's ArchiveFile.DEFAULT_ID_TERM analog
DEFAULT_ID_NAME = "id"

#: rowtype URIs → (required local terms, known local terms) for the
#: structural battery. The reference resolves these from the full GBIF
#: extension registry; this bundles the public Darwin Core standard term
#: sets for the core types the validator meets in practice — rowtypes not
#: listed here surface UNKNOWN_ROWTYPE, never a silent pass.
OCCURRENCE_ROWTYPE = "http://rs.tdwg.org/dwc/terms/Occurrence"
TAXON_ROWTYPE = "http://rs.tdwg.org/dwc/terms/Taxon"
IDENTIFICATION_ROWTYPE = "http://rs.tdwg.org/dwc/terms/Identification"
IDENTIFIER_ROWTYPE = "http://rs.gbif.org/terms/1.0/Identifier"
MULTIMEDIA_ROWTYPE = "http://rs.gbif.org/terms/1.0/Multimedia"
# round-5 registry breadth (r04 verdict task #4): Event core + the common
# registered extensions, from the public TDWG standards (Darwin Core text
# guide, Audubon Core, Chronometric Age) the GBIF registry serves —
# reference resolves these dynamically via dwc/extensions/ExtensionManager
EVENT_ROWTYPE = "http://rs.tdwg.org/dwc/terms/Event"
MEASUREMENT_OR_FACT_ROWTYPE = "http://rs.tdwg.org/dwc/terms/MeasurementOrFact"
RESOURCE_RELATIONSHIP_ROWTYPE = (
    "http://rs.tdwg.org/dwc/terms/ResourceRelationship"
)
AUDUBON_ROWTYPE = "http://rs.tdwg.org/ac/terms/Multimedia"
CHRONOMETRIC_AGE_ROWTYPE = "http://rs.tdwg.org/chrono/terms/ChronometricAge"

_DC_TERMS = {
    "type", "modified", "language", "license", "rightsHolder", "accessRights",
    "bibliographicCitation", "references", "identifier", "title", "format",
    "created", "creator", "description", "source",
}
_DWC_RECORD_TERMS = {
    "institutionID", "collectionID", "datasetID", "institutionCode",
    "collectionCode", "datasetName", "ownerInstitutionCode", "basisOfRecord",
    "informationWithheld", "dataGeneralizations", "dynamicProperties",
}
_DWC_OCCURRENCE_TERMS = {
    "occurrenceID", "catalogNumber", "recordNumber", "recordedBy",
    "individualCount", "organismQuantity", "organismQuantityType", "sex",
    "lifeStage", "reproductiveCondition", "behavior", "establishmentMeans",
    "occurrenceStatus", "preparations", "disposition", "associatedMedia",
    "associatedReferences", "associatedSequences", "associatedTaxa",
    "otherCatalogNumbers", "occurrenceRemarks",
}
_DWC_EVENT_LOCATION_TERMS = {
    "eventID", "parentEventID", "fieldNumber", "eventDate", "eventTime",
    "startDayOfYear", "endDayOfYear", "year", "month", "day",
    "verbatimEventDate", "habitat", "samplingProtocol", "sampleSizeValue",
    "sampleSizeUnit", "samplingEffort", "fieldNotes", "eventRemarks",
    "locationID", "higherGeographyID", "higherGeography", "continent",
    "waterBody", "islandGroup", "island", "country", "countryCode",
    "stateProvince", "county", "municipality", "locality",
    "verbatimLocality", "minimumElevationInMeters",
    "maximumElevationInMeters", "verbatimElevation",
    "minimumDepthInMeters", "maximumDepthInMeters", "verbatimDepth",
    "minimumDistanceAboveSurfaceInMeters",
    "maximumDistanceAboveSurfaceInMeters", "locationAccordingTo",
    "locationRemarks", "decimalLatitude", "decimalLongitude",
    "geodeticDatum", "coordinateUncertaintyInMeters", "coordinatePrecision",
    "pointRadiusSpatialFit", "verbatimCoordinates", "verbatimLatitude",
    "verbatimLongitude", "verbatimCoordinateSystem", "verbatimSRS",
    "footprintWKT", "footprintSRS", "footprintSpatialFit",
    "georeferencedBy", "georeferencedDate", "georeferenceProtocol",
    "georeferenceSources", "georeferenceVerificationStatus",
    "georeferenceRemarks",
}
_DWC_TAXON_TERMS = {
    "taxonID", "scientificNameID", "acceptedNameUsageID",
    "parentNameUsageID", "originalNameUsageID", "nameAccordingToID",
    "namePublishedInID", "taxonConceptID", "scientificName",
    "acceptedNameUsage", "parentNameUsage", "originalNameUsage",
    "nameAccordingTo", "namePublishedIn", "namePublishedInYear",
    "higherClassification", "kingdom", "phylum", "class", "order", "family",
    "genus", "subgenus", "specificEpithet", "infraspecificEpithet",
    "taxonRank", "verbatimTaxonRank", "scientificNameAuthorship",
    "vernacularName", "nomenclaturalCode", "taxonomicStatus",
    "nomenclaturalStatus", "taxonRemarks",
}
_DWC_IDENTIFICATION_TERMS = {
    "identificationID", "identificationQualifier", "typeStatus",
    "identifiedBy", "dateIdentified", "identificationReferences",
    "identificationVerificationStatus", "identificationRemarks",
}
_GEOLOGY_TERMS = {
    "geologicalContextID", "earliestEonOrLowestEonothem",
    "latestEonOrHighestEonothem", "earliestEraOrLowestErathem",
    "latestEraOrHighestErathem", "earliestPeriodOrLowestSystem",
    "latestPeriodOrHighestSystem", "earliestEpochOrLowestSeries",
    "latestEpochOrHighestSeries", "earliestAgeOrLowestStage",
    "latestAgeOrHighestStage", "lowestBiostratigraphicZone",
    "highestBiostratigraphicZone", "lithostratigraphicTerms", "group",
    "formation", "member", "bed",
}

_DWC_MEASUREMENT_TERMS = {
    "measurementID", "measurementType", "measurementValue",
    "measurementAccuracy", "measurementUnit", "measurementDeterminedBy",
    "measurementDeterminedDate", "measurementMethod", "measurementRemarks",
    "occurrenceID", "eventID",
}
_DWC_RESOURCE_RELATIONSHIP_TERMS = {
    "resourceRelationshipID", "resourceID", "relatedResourceID",
    "relationshipOfResource", "relationshipAccordingTo",
    "relationshipEstablishedDate", "relationshipRemarks",
}
#: Audubon Core local terms (public TDWG ac: namespace) — the media
#: extension the reference's registry serves for rich multimedia
_AC_MULTIMEDIA_TERMS = {
    "accessURI", "subtypeLiteral", "subtype", "title",
    "metadataLanguageLiteral", "metadataLanguage", "providerManagedID",
    "rights", "owner", "webStatement", "credit", "rating",
    "providerLiteral", "provider", "tag", "createDate", "timeOfDay",
    "captureDevice", "resourceCreationTechnique", "digitizationDate",
    "variantLiteral", "variant", "pixelXDimension", "pixelYDimension",
    "serviceExpectation", "licensingException", "licenseLogoURL",
    "attributionLogoURL", "attributionLinkURL", "fundingAttribution",
    "furtherInformationURL", "derivedFrom", "associatedSpecimenReference",
    "associatedObservationReference", "physicalSetting", "comments",
    "reviewer", "reviewerComments",
}
_CHRONO_TERMS = {
    "chronometricAgeID", "verbatimChronometricAge",
    "chronometricAgeProtocol", "uncalibratedChronometricAge",
    "chronometricAgeConversionProtocol", "earliestChronometricAge",
    "earliestChronometricAgeReferenceSystem", "latestChronometricAge",
    "latestChronometricAgeReferenceSystem",
    "chronometricAgeUncertaintyInYears",
    "chronometricAgeUncertaintyMethod", "materialDated", "materialDatedID",
    "materialDatedRelationship", "chronometricAgeDeterminedBy",
    "chronometricAgeDeterminedDate", "chronometricAgeReferences",
    "chronometricAgeRemarks",
}

KNOWN_ROWTYPES: dict[str, dict] = {
    OCCURRENCE_ROWTYPE: {
        # the id-or-triple rule is handled specially (see structure_findings)
        "required": [],
        "known": (
            _DC_TERMS | _DWC_RECORD_TERMS | _DWC_OCCURRENCE_TERMS
            | _DWC_EVENT_LOCATION_TERMS | _DWC_TAXON_TERMS
            | _DWC_IDENTIFICATION_TERMS | _GEOLOGY_TERMS
        ),
    },
    TAXON_ROWTYPE: {
        "required": ["scientificName"],
        "known": _DC_TERMS | _DWC_RECORD_TERMS | _DWC_TAXON_TERMS,
    },
    IDENTIFICATION_ROWTYPE: {
        "required": [],
        "known": _DC_TERMS | _DWC_IDENTIFICATION_TERMS | _DWC_TAXON_TERMS,
    },
    IDENTIFIER_ROWTYPE: {
        "required": ["identifier"],
        "known": _DC_TERMS,
    },
    MULTIMEDIA_ROWTYPE: {
        "required": ["identifier"],
        "known": _DC_TERMS | {"audience", "contributor", "publisher",
                              "derivedFrom", "furtherInformationURL"},
    },
    EVENT_ROWTYPE: {
        "required": ["eventID"],
        "known": (
            _DC_TERMS | _DWC_RECORD_TERMS | _DWC_EVENT_LOCATION_TERMS
            | _GEOLOGY_TERMS
        ),
    },
    MEASUREMENT_OR_FACT_ROWTYPE: {
        "required": ["measurementType"],
        "known": _DC_TERMS | _DWC_MEASUREMENT_TERMS,
    },
    RESOURCE_RELATIONSHIP_ROWTYPE: {
        "required": ["relatedResourceID", "relationshipOfResource"],
        "known": _DC_TERMS | _DWC_RESOURCE_RELATIONSHIP_TERMS,
    },
    AUDUBON_ROWTYPE: {
        "required": ["identifier"],
        "known": _DC_TERMS | _AC_MULTIMEDIA_TERMS,
    },
    CHRONOMETRIC_AGE_ROWTYPE: {
        "required": [],
        "known": _DC_TERMS | _CHRONO_TERMS,
    },
}


class DwcaError(ValueError):
    """Archive cannot be opened/parsed at all — the DWCA_UNREADABLE tier."""


@dataclass(frozen=True)
class DwcaField:
    index: int | None  # None → constant column (default only)
    term: str
    default: str | None = None


@dataclass(frozen=True)
class DwcaFileDesc:
    rowtype: str
    locations: tuple[str, ...]
    fields: tuple[DwcaField, ...]
    id_index: int | None
    id_term: str | None
    ignore_header_lines: int
    delimiter: str
    quote: str | None
    encoding: str
    is_core: bool

    @property
    def name(self) -> str:
        """RowTypeKey.name() analog: 'core_Occurrence' / 'ext_Identification'."""
        kind = "core" if self.is_core else "ext"
        return f"{kind}_{term_local(self.rowtype)}"


@dataclass(frozen=True)
class DwcaDescriptor:
    core: DwcaFileDesc
    extensions: tuple[DwcaFileDesc, ...]
    metadata: str | None  # archive-relative EML document name


def term_local(term_uri: str) -> str:
    """Local term name: the fragment after the last '/' or '#'."""
    return re.split(r"[/#]", term_uri.rstrip("/#"))[-1] if term_uri else term_uri


def _decode_escapes(v: str | None, default: str) -> str:
    r"""meta.xml stores control delimiters ESCAPED ('\t' is backslash-t)."""
    if v is None:
        return default
    return v.encode("utf-8").decode("unicode_escape")


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_index(value: str, what: str) -> int:
    """meta.xml index attributes must be non-negative integers; anything
    else (``index="x"``, ``index="-1"``) is a schema violation the caller
    maps to DWCA_META_XML_SCHEMA — never a bare ValueError crash, and never
    Python negative indexing silently reading columns from the end."""
    try:
        idx = int(value)
    except ValueError as e:
        raise DwcaError(f"meta.xml: non-integer {what} index '{value}'") from e
    if idx < 0:
        raise DwcaError(f"meta.xml: negative {what} index {idx}")
    return idx


def _parse_file_elem(elem: ElementTree.Element, is_core: bool) -> DwcaFileDesc:
    rowtype = elem.get("rowType")
    if not rowtype:
        raise DwcaError("meta.xml: file element without rowType")
    locations = tuple(
        (loc.text or "").strip()
        for files in elem if _strip_ns(files.tag) == "files"
        for loc in files if _strip_ns(loc.tag) == "location"
    )
    if not locations or not all(locations):
        raise DwcaError(f"meta.xml: {rowtype} has no data file location")
    id_tag = "id" if is_core else "coreid"
    id_index, id_term = None, None
    fields: list[DwcaField] = []
    for child in elem:
        tag = _strip_ns(child.tag)
        if tag == id_tag:
            idx = child.get("index")
            if idx is None:
                raise DwcaError(f"meta.xml: <{id_tag}> without index")
            id_index, id_term = _parse_index(idx, id_tag), child.get("term")
        elif tag == "field":
            term = child.get("term")
            if not term:
                raise DwcaError("meta.xml: <field> without term")
            idx = child.get("index")
            fields.append(
                DwcaField(
                    index=_parse_index(idx, "field") if idx is not None
                    else None,
                    term=term,
                    default=child.get("default"),
                )
            )
    return DwcaFileDesc(
        rowtype=rowtype,
        locations=locations,
        fields=tuple(fields),
        id_index=id_index,
        id_term=id_term,
        ignore_header_lines=_parse_index(
            elem.get("ignoreHeaderLines") or "0", "ignoreHeaderLines"
        ),
        delimiter=_decode_escapes(elem.get("fieldsTerminatedBy"), "\t"),
        quote=elem.get("fieldsEnclosedBy") or None,
        encoding=elem.get("encoding") or "UTF-8",
        is_core=is_core,
    )


def parse_meta_xml(data: bytes) -> DwcaDescriptor:
    """meta.xml → descriptor; structural violations of the TDWG text schema
    (no core, file without rowType/location, field without term, malformed
    index) raise DwcaError — surfaced as DWCA_META_XML_SCHEMA findings by
    ``structure_findings``, never a crash past the source layer."""
    if _XML_DTD_RE.search(data):
        raise DwcaError("meta.xml: doctype/entity declaration rejected")
    try:
        root = ElementTree.fromstring(data)
    except ElementTree.ParseError as e:
        raise DwcaError(f"meta.xml: not well-formed ({e})") from e
    if _strip_ns(root.tag) != "archive":
        raise DwcaError(f"meta.xml: root element is <{_strip_ns(root.tag)}>, "
                        "expected <archive>")
    cores, exts = [], []
    for child in root:
        tag = _strip_ns(child.tag)
        if tag == "core":
            cores.append(_parse_file_elem(child, is_core=True))
        elif tag == "extension":
            exts.append(_parse_file_elem(child, is_core=False))
    if len(cores) != 1:
        raise DwcaError(f"meta.xml: expected exactly 1 core, found {len(cores)}")
    for ext in exts:
        if ext.id_index is None:
            raise DwcaError(
                f"meta.xml: extension {ext.rowtype} without <coreid>"
            )
    return DwcaDescriptor(
        core=cores[0], extensions=tuple(exts), metadata=root.get("metadata")
    )


def extract_archive(
    archive_path: str, dest_dir: str
) -> tuple[DwcaDescriptor, str]:
    """Unzip (bomb-capped) and parse meta.xml. A bare directory is accepted
    too (the spec allows unpacked archives). Raises DwcaError for an
    unreadable zip / missing meta.xml — callers map those to
    DWCA_UNREADABLE / DWCA_META_XML_NOT_FOUND."""
    if os.path.isdir(archive_path):
        src_dir = archive_path
    else:
        try:
            with zipfile.ZipFile(archive_path) as zf:
                infos = zf.infolist()
                if len(infos) > _MAX_MEMBERS:
                    raise DwcaError(
                        f"archive has {len(infos)} members (cap {_MAX_MEMBERS})"
                    )
                for info in infos:
                    if info.file_size > _MAX_MEMBER_BYTES:
                        raise DwcaError(
                            f"member too large: {info.filename} "
                            f"({info.file_size} bytes declared)"
                        )
                    name = os.path.normpath(info.filename)
                    if name.startswith("..") or os.path.isabs(name):
                        raise DwcaError(f"unsafe member path: {info.filename}")
                os.makedirs(dest_dir, exist_ok=True)
                zf.extractall(dest_dir)
        except zipfile.BadZipFile as e:
            raise DwcaError(f"not a zip archive: {e}") from e
        src_dir = dest_dir
        # single-folder zips: descend if meta.xml sits one level down
        if not os.path.exists(os.path.join(src_dir, "meta.xml")):
            subdirs = [d for d in os.listdir(src_dir)
                       if os.path.isdir(os.path.join(src_dir, d))]
            if len(subdirs) == 1 and os.path.exists(
                os.path.join(src_dir, subdirs[0], "meta.xml")
            ):
                src_dir = os.path.join(src_dir, subdirs[0])
    meta_path = os.path.join(src_dir, "meta.xml")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(meta_path)  # → DWCA_META_XML_NOT_FOUND
    with open(meta_path, "rb") as fh:
        desc = parse_meta_xml(fh.read())
    return DwcaDescriptor(
        core=desc.core, extensions=desc.extensions, metadata=desc.metadata
    ), src_dir


def _column_names(desc: DwcaFileDesc) -> tuple[str, dict[int, str]]:
    """id column name + positional index → unique output column name.
    Duplicate terms get a __2/__3 suffix so the DataFrame stays legal —
    the DUPLICATED_TERM finding (structure_findings) reports the clash."""
    id_name = term_local(desc.id_term) if desc.id_term else DEFAULT_ID_NAME
    names: dict[int, str] = {}
    used: dict[str, int] = {id_name: 1}
    for f_ in desc.fields:
        if f_.index is None:
            continue
        base = term_local(f_.term)
        n = used.get(base, 0) + 1
        used[base] = n
        names[f_.index] = base if n == 1 else f"{base}__{n}"
    return id_name, names


def _extra_header_rows(scan_dir: str, desc: DwcaFileDesc) -> list[list[str]]:
    """Header lines 2..ignoreHeaderLines of every location file, split into
    fields the way the CSV scan splits them. The scan itself drops the
    first line of each file; these are the rest of the header block."""
    import csv
    from itertools import islice

    rows = []
    for loc in desc.locations:
        with open(
            os.path.join(scan_dir, loc), encoding=desc.encoding, errors="replace"
        ) as fh:
            lines = [ln.rstrip("\r\n") for ln in islice(fh, desc.ignore_header_lines)]
        for ln in lines[1:]:
            if desc.quote and len(desc.delimiter) == 1:
                rows.append(
                    next(csv.reader([ln], delimiter=desc.delimiter, quotechar=desc.quote))
                )
            else:
                rows.append(ln.split(desc.delimiter))
    return rows


def read_archive_file(
    spark: SparkSession, scan_dir: str, desc: DwcaFileDesc
) -> DataFrame:
    """One descriptor file → DataFrame via Spark's native CSV scan
    (splittable JVM path; no Python touches a row). Positional columns are
    aliased to Term local names; the <id>/<coreid> column comes first
    (named ``id`` when the descriptor gives it no term); constant
    default-value fields (no index) and per-column defaults are imputed
    declaratively (P4 analog).

    The first ``ignoreHeaderLines`` lines of every location file are not
    data rows (the rule ``column_mismatch_findings`` uses): the scan drops
    each file's first line, and rows equal field-for-field to a later
    header line are filtered out (a data row identical to one of them is
    dropped too)."""
    paths = [os.path.join(scan_dir, loc) for loc in desc.locations]
    reader = (
        spark.read.option("header", desc.ignore_header_lines >= 1)
        .option("sep", desc.delimiter)
        .option("encoding", desc.encoding)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
    )
    if desc.quote:
        reader = reader.option("quote", desc.quote)
    else:
        # empty string disables quote handling (Spark maps it to \\u0000):
        # fieldsEnclosedBy="" keeps quote characters literal, as dwca-io does
        reader = reader.option("quote", "")
    raw = reader.csv(paths)
    for header in _extra_header_rows(scan_dir, desc):
        # the scan reads an empty field as null and drops surplus fields
        fields = [v or None for v in header] + [None] * len(raw.columns)
        same = [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(raw.columns, fields)]
        raw = raw.where(~functools.reduce(operator.and_, same))
    # positional access: the scan's column order IS the file's column order
    raw_cols = raw.columns
    id_name, names = _column_names(desc)
    cols = []
    if desc.id_index is not None:
        if desc.id_index >= len(raw_cols):
            raise DwcaError(
                f"{desc.rowtype}: id index {desc.id_index} out of range "
                f"({len(raw_cols)} columns in data file)"
            )
        cols.append(F.col(raw_cols[desc.id_index]).alias(id_name))
    for f_ in desc.fields:
        if f_.index is None:
            continue
        if f_.index >= len(raw_cols):
            raise DwcaError(
                f"{desc.rowtype}: field index {f_.index} out of range "
                f"({len(raw_cols)} columns in data file)"
            )
        c = F.col(raw_cols[f_.index])
        if f_.default is not None:
            c = F.coalesce(c, F.lit(f_.default))
        cols.append(c.alias(names[f_.index]))
    for f_ in desc.fields:
        if f_.index is None:  # constant column from default value
            cols.append(F.lit(f_.default).alias(term_local(f_.term)))
    return raw.select(*cols)


def read_dwca(
    spark: SparkSession, archive_path: str, work_dir: str
) -> tuple[DwcaDescriptor, DataFrame, dict[str, tuple[DataFrame, str]]]:
    """Archive → (descriptor, core DF, {ext name: (ext DF, key col)}) —
    the extensions dict plugs straight into
    ``plans.star.validate_star(core, exts, core_key=<core id col>)``."""
    desc, src_dir = extract_archive(archive_path, work_dir)
    core_df = read_archive_file(spark, src_dir, desc.core)
    exts: dict[str, tuple[DataFrame, str]] = {}
    for ext in desc.extensions:
        ext_id = term_local(ext.id_term) if ext.id_term else DEFAULT_ID_NAME
        exts[term_local(ext.rowtype)] = (
            read_archive_file(spark, src_dir, ext), ext_id
        )
    return desc, core_df, exts


def core_id_column(desc: DwcaDescriptor) -> str:
    return (
        term_local(desc.core.id_term) if desc.core.id_term else DEFAULT_ID_NAME
    )


# ---------------------------------------------------------------------------
# structural findings (DwcaResourceStructureEvaluator analog)
# ---------------------------------------------------------------------------

def _file_findings(desc: DwcaFileDesc, registry: dict[str, dict]) -> list[dict]:
    out: list[dict] = []
    spec = registry.get(desc.rowtype)
    rt = desc.rowtype

    def finding(ftype: str, term: str | None) -> dict:
        return {"source": "meta.xml", "evaluation_type": ftype,
                "rowtype": rt, "term": term}

    if spec is None:
        return [finding("UNKNOWN_ROWTYPE", rt)]
    # duplicated terms (indexed fields mapping the same term twice)
    seen: set[str] = set()
    locals_present: set[str] = set()
    for f_ in desc.fields:
        loc = term_local(f_.term)
        locals_present.add(loc)
        if f_.term in seen:
            out.append(finding("DUPLICATED_TERM", f_.term))
        seen.add(f_.term)
    if desc.id_term:
        locals_present.add(term_local(desc.id_term))
    # required terms
    for req in spec["required"]:
        if req not in locals_present:
            out.append(finding("REQUIRED_TERM_MISSING", req))
    # Occurrence: occurrenceID or the institution/collection/catalog triple
    if rt == OCCURRENCE_ROWTYPE and not (
        "occurrenceID" in locals_present
        or {"institutionCode", "collectionCode", "catalogNumber"}
        <= locals_present
    ):
        out.append(finding("REQUIRED_TERM_MISSING", "occurrenceID"))
    # unknown terms within a known rowtype
    for f_ in desc.fields:
        if term_local(f_.term) not in spec["known"]:
            out.append(finding("UNKNOWN_TERM", f_.term))
    return out


def structure_findings(
    archive_path: str,
    work_dir: str,
    registry: dict[str, dict] | None = None,
) -> list[dict]:
    """The M-battery for archives: open + parse + per-file term checks →
    finding dicts (source, evaluation_type, rowtype, term). Errors become
    findings (DWCA_UNREADABLE / DWCA_META_XML_NOT_FOUND /
    DWCA_META_XML_SCHEMA), mirroring the evaluator's onException rows —
    the engine's preflight gate treats any of those as blocking."""
    registry = KNOWN_ROWTYPES if registry is None else registry
    try:
        desc, src_dir = extract_archive(archive_path, work_dir)
    except FileNotFoundError:
        return [{"source": os.path.basename(archive_path),
                 "evaluation_type": "DWCA_META_XML_NOT_FOUND",
                 "rowtype": None, "term": None}]
    except DwcaError as e:
        ftype = ("DWCA_META_XML_SCHEMA" if "meta.xml" in str(e)
                 else "DWCA_UNREADABLE")
        return [{"source": os.path.basename(archive_path),
                 "evaluation_type": ftype, "rowtype": None, "term": str(e)}]
    out = _file_findings(desc.core, registry)
    for ext in desc.extensions:
        out.extend(_file_findings(ext, registry))
    out.extend(metadata_findings(src_dir, desc))
    return out


def metadata_findings(src_dir: str, desc: DwcaDescriptor) -> list[dict]:
    """EML metadata-document findings (EmlResourceStructureEvaluator
    analog): a metadata file DECLARED by the descriptor but absent →
    EML_NOT_FOUND; present but violating the bundled GBIF-profile schema
    subset → one EML_GBIF_SCHEMA finding per violation
    (plans/metadata.py::validate_eml_document). An archive that declares
    no metadata document gets no finding — same as the reference, which
    only validates what the archive points at."""
    if not desc.metadata:
        return []
    from ..plans.metadata import validate_eml_document

    eml_path = os.path.join(src_dir, desc.metadata)
    if not os.path.exists(eml_path):
        return [{"source": desc.metadata,
                 "evaluation_type": "EML_NOT_FOUND",
                 "rowtype": None, "term": None}]
    with open(eml_path, "rb") as fh:
        data = fh.read()
    return [
        {"source": desc.metadata, "evaluation_type": "EML_GBIF_SCHEMA",
         "rowtype": None, "term": v}
        for v in validate_eml_document(data)
    ]


#: structural findings that block record-level evaluation — the M6
#: early-stop analog: the reference never runs record evaluators when the
#: archive/descriptor itself is broken
BLOCKING_FINDINGS = frozenset(
    {"DWCA_UNREADABLE", "DWCA_META_XML_NOT_FOUND", "DWCA_META_XML_SCHEMA"}
)


def validate_dwca(
    spark: SparkSession,
    archive_path: str,
    work_dir: str,
    registry: dict[str, dict] | None = None,
    record_checks: bool = False,
) -> tuple[list[dict], DataFrame | None]:
    """Archive-level validation pipeline: structural findings first
    (ResourceStructure stage), then — only when nothing blocking — the
    star-referential violations DataFrame (empty-key + orphan scans per
    extension). Returns ``(findings, violations_df_or_None)``; a None DF
    means the preflight gate short-circuited, mirroring the engine's
    blocking-preflight early stop (M6).

    ``record_checks=True`` adds the reference's per-record pass over the
    core table (RecordStructure column count + the occurrence
    interpretation battery — ``operators/dwca_interpretation.py``),
    unioned into the same violations schema with
    ``partition_id = 'core:<RowType>'``."""
    from ..operators.dwca_interpretation import (
        column_mismatch_findings,
        dwca_record_checks,
    )
    from ..plans.star import validate_star

    findings = structure_findings(archive_path, work_dir, registry)
    if any(f["evaluation_type"] in BLOCKING_FINDINGS for f in findings):
        return findings, None
    desc, core, exts = read_dwca(spark, archive_path, work_dir)
    violations = validate_star(core, exts, core_key=core_id_column(desc))
    if record_checks:
        part = F.lit(f"core:{term_local(desc.core.rowtype)}")
        interp = dwca_record_checks(core, core_id_column(desc))
        # re-resolve the scan dir through extract_archive itself (already
        # extracted above, so this is a cheap idempotent re-walk) instead
        # of duplicating its single-folder-descend logic here
        _, src_dir = extract_archive(archive_path, work_dir)
        colmm = column_mismatch_findings(spark, src_dir, desc.core)
        if colmm is not None:
            interp = interp.unionByName(colmm)
        violations = violations.unionByName(
            interp.select(
                F.col("record_id").alias("url"), "check_id", "expected",
                "found",
                F.create_map(F.lit("table"), part).alias("related_data"),
                part.alias("partition_id"),
            )
        )
    return findings, violations
