"""Record-interpretation battery over DwC-A term columns — the per-record
evaluator pass the reference runs on archive rows after structure checks
(RecordStructureEvaluator column count + the occurrence-interpretation
battery: date parse/plausibility, coordinate zero/range/swap, vocabulary
membership — reference
``evaluator/record/RecordStructureEvaluator.java:35-56``,
``evaluator/record/OccurrenceInterpretationEvaluator.java:72-138``, finding
names ``api/model/EvaluationType.java:37-77``).

Spark-first design: every check is pure Column algebra over the Term-named
columns the DwC-A source exposes (``sources/dwca.py::read_archive_file``) —
``try_to_timestamp``/``try_cast`` for string→typed interpretation (ANSI-safe,
parse failure is a *finding*, never an exception), set-literal ``isin`` for
vocabulary membership, and one fused scan emitting nullable detail structs
exactly like the engine's web-table battery (``operators/record_checks.py``).
No UDFs, no shuffles; at 10^12 rows this whole pass is a single
WholeStageCodegen span over the CSV/parquet scan.

Violations schema matches the star battery: ``(record_id, check_id,
expected, found)`` — one row per finding, bounded by bad rows.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "BASIS_OF_RECORD_VOCAB",
    "ISO_3166_ALPHA2",
    "dwca_record_checks",
    "column_mismatch_findings",
]

#: GBIF BasisOfRecord vocabulary (public API enum), matched after
#: normalization (strip non-alphanumerics, uppercase) the way the
#: reference's fuzzy VocabularyParser accepts 'Preserved Specimen' /
#: 'preservedspecimen' / 'PRESERVED_SPECIMEN' alike.
BASIS_OF_RECORD_VOCAB = frozenset({
    "PRESERVEDSPECIMEN", "FOSSILSPECIMEN", "LIVINGSPECIMEN",
    "HUMANOBSERVATION", "MACHINEOBSERVATION", "MATERIALSAMPLE",
    "OBSERVATION", "OCCURRENCE", "MATERIALCITATION", "LITERATURE",
    "UNKNOWN",
})

#: ISO 3166-1 alpha-2 officially assigned codes (public standard) plus
#: the user-assigned codes the reference's Country enum also carries
#: (XK Kosovo, ZZ unknown, XZ international waters) — the countryCode
#: membership dimension (reference: Country.fromIsoCode via the
#: occurrence interpreter's COUNTRY_INVALID issue).
ISO_3166_ALPHA2 = frozenset("""
XK ZZ XZ
AD AE AF AG AI AL AM AO AQ AR AS AT AU AW AX AZ BA BB BD BE BF BG BH BI BJ
BL BM BN BO BQ BR BS BT BV BW BY BZ CA CC CD CF CG CH CI CK CL CM CN CO CR
CU CV CW CX CY CZ DE DJ DK DM DO DZ EC EE EG EH ER ES ET FI FJ FK FM FO FR
GA GB GD GE GF GG GH GI GL GM GN GP GQ GR GS GT GU GW GY HK HM HN HR HT HU
ID IE IL IM IN IO IQ IR IS IT JE JM JO JP KE KG KH KI KM KN KP KR KW KY KZ
LA LB LC LI LK LR LS LT LU LV LY MA MC MD ME MF MG MH MK ML MM MN MO MP MQ
MR MS MT MU MV MW MX MY MZ NA NC NE NF NG NI NL NO NP NR NU NZ OM PA PE PF
PG PH PK PL PM PN PR PS PT PW PY QA RE RO RS RU RW SA SB SC SD SE SG SH SI
SJ SK SL SM SN SO SR SS ST SV SX SY SZ TC TD TF TG TH TJ TK TL TM TN TO TR
TT TV TW TZ UA UG UM US UY UZ VA VC VE VG VI VN VU WF WS YE YT ZA ZM ZW
""".split())

#: recorded-date plausibility window: the reference's temporal interpreter
#: rejects recorded dates before 1600 (RECORDED_DATE_UNLIKELY); the upper
#: bound is pinned (not "now") so runs are deterministic and resumable.
DATE_MIN = "1600-01-01"
DATE_MAX = "2030-12-31"

#: elevation/depth plausibility in meters (Dead Sea shore → Everest;
#: surface → Mariana Trench) — ELEVATION_UNLIKELY / DEPTH_UNLIKELY.
ELEVATION_RANGE = (-430.0, 8850.0)
DEPTH_RANGE = (0.0, 11000.0)

_DATE_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy-MM",
    "yyyy",
)


def _blank(c: Column) -> Column:
    return c.isNull() | (F.trim(c) == "")


def _interpret_date(c: Column) -> Column:
    """String→timestamp interpretation over the accepted ISO-ish format
    ladder; NULL when no format parses (that null IS the finding)."""
    return F.coalesce(*[F.try_to_timestamp(F.trim(c), F.lit(f))
                        for f in _DATE_FORMATS])


def _detail(check_id: str, violated: Column, expected: str,
            found: Column) -> Column:
    return F.when(
        violated & violated.isNotNull(),
        F.struct(
            F.lit(check_id).alias("check_id"),
            F.lit(expected).alias("expected"),
            found.cast("string").alias("found"),
        ),
    )


def _date_details(col: Column, prefix: str) -> list[Column]:
    """The {RECORDED,MODIFIED,IDENTIFIED}_DATE_{INVALID,UNLIKELY} pair for
    one verbatim date column."""
    parsed = _interpret_date(col)
    present = ~_blank(col)
    return [
        _detail(
            f"{prefix}_DATE_INVALID",
            present & parsed.isNull(),
            "parseable date", col,
        ),
        _detail(
            f"{prefix}_DATE_UNLIKELY",
            parsed.isNotNull()
            & ((parsed < F.lit(DATE_MIN).cast("timestamp"))
               | (parsed > F.lit(DATE_MAX).cast("timestamp"))),
            f"date in [{DATE_MIN}, {DATE_MAX}]", col,
        ),
    ]


def _measure_details(min_col: Column | None, max_col: Column | None,
                     prefix: str, lo: float, hi: float) -> list[Column]:
    """{ELEVATION,DEPTH}_{NON_NUMERIC,MIN_MAX_SWAPPED,UNLIKELY} over the
    min/max verbatim measurement columns (either may be absent)."""
    out: list[Column] = []
    nums = []
    for c in (min_col, max_col):
        if c is None:
            nums.append(None)
            continue
        n = F.trim(c).try_cast("double")
        nums.append(n)
        out.append(_detail(
            f"{prefix}_NON_NUMERIC", ~_blank(c) & n.isNull(),
            "numeric meters", c,
        ))
        out.append(_detail(
            f"{prefix}_UNLIKELY",
            n.isNotNull() & ((n < F.lit(lo)) | (n > F.lit(hi))),
            f"meters in [{lo}, {hi}]", c,
        ))
    if nums[0] is not None and nums[1] is not None:
        out.append(_detail(
            f"{prefix}_MIN_MAX_SWAPPED",
            nums[0].isNotNull() & nums[1].isNotNull() & (nums[0] > nums[1]),
            "min <= max",
            F.concat_ws("/", min_col, max_col),
        ))
    return out


def dwca_record_checks(core_df: DataFrame, id_col: str) -> DataFrame:
    """Per-record interpretation battery over a DwC-A core table → the
    violations DataFrame ``(record_id, check_id, expected, found)``.

    Checks activate per term column actually present (the reference's
    interpreter likewise only raises issues for mapped verbatim fields):

    - ``eventDate`` → RECORDED_DATE_INVALID / RECORDED_DATE_UNLIKELY
    - ``modified`` → MODIFIED_DATE_INVALID / MODIFIED_DATE_UNLIKELY
    - ``dateIdentified`` → IDENTIFIED_DATE_INVALID / IDENTIFIED_DATE_UNLIKELY
    - ``decimalLatitude``/``decimalLongitude`` → COORDINATE_INVALID,
      ZERO_COORDINATE, PRESUMED_SWAPPED_COORDINATE, COORDINATE_OUT_OF_RANGE
    - ``basisOfRecord`` → BASIS_OF_RECORD_INVALID (fuzzy-normalized vocab)
    - ``countryCode`` → COUNTRY_INVALID (ISO 3166-1 alpha-2)
    - ``minimum/maximumElevationInMeters`` → ELEVATION_NON_NUMERIC /
      _UNLIKELY / _MIN_MAX_SWAPPED; depth columns likewise.

    One narrow pass: details are nullable structs filtered+exploded, the
    same fused shape as the engine's web battery — no UDF, no shuffle.
    """
    cols = set(core_df.columns)

    def has(name: str) -> Column | None:
        return F.col(name) if name in cols else None

    details: list[Column] = []

    for term, prefix in (("eventDate", "RECORDED"), ("modified", "MODIFIED"),
                         ("dateIdentified", "IDENTIFIED")):
        c = has(term)
        if c is not None:
            details.extend(_date_details(c, prefix))

    lat_s, lon_s = has("decimalLatitude"), has("decimalLongitude")
    if lat_s is not None and lon_s is not None:
        lat = F.trim(lat_s).try_cast("double")
        lon = F.trim(lon_s).try_cast("double")
        coord_str = F.concat_ws(",", lat_s, lon_s)
        parse_failed = (~_blank(lat_s) & lat.isNull()) | (
            ~_blank(lon_s) & lon.isNull())
        both = lat.isNotNull() & lon.isNotNull()
        lat_in, lon_in = F.abs(lat) <= 90.0, F.abs(lon) <= 180.0
        # swap heuristic mirrors CoordinateParseUtils: lat out of the ±90
        # band but inside ±180, and the transposed pair is fully in range
        swapped = both & ~lat_in & (F.abs(lat) <= 180.0) & (F.abs(lon) <= 90.0)
        details.extend([
            _detail("COORDINATE_INVALID", parse_failed,
                    "numeric decimal degrees", coord_str),
            _detail("ZERO_COORDINATE", both & (lat == 0.0) & (lon == 0.0),
                    "non-(0,0) coordinate", coord_str),
            _detail("PRESUMED_SWAPPED_COORDINATE", swapped,
                    "lat in ±90, lon in ±180", coord_str),
            _detail("COORDINATE_OUT_OF_RANGE",
                    both & ~swapped & (~lat_in | ~lon_in),
                    "lat in ±90, lon in ±180", coord_str),
        ])

    bor = has("basisOfRecord")
    if bor is not None:
        norm = F.upper(F.regexp_replace(bor, r"[^A-Za-z0-9]", ""))
        details.append(_detail(
            "BASIS_OF_RECORD_INVALID",
            ~_blank(bor) & ~norm.isin(*sorted(BASIS_OF_RECORD_VOCAB)),
            "BasisOfRecord vocabulary", bor,
        ))

    cc = has("countryCode")
    if cc is not None:
        details.append(_detail(
            "COUNTRY_INVALID",
            ~_blank(cc) & ~F.upper(F.trim(cc)).isin(*sorted(ISO_3166_ALPHA2)),
            "ISO 3166-1 alpha-2 code", cc,
        ))

    details.extend(_measure_details(
        has("minimumElevationInMeters"), has("maximumElevationInMeters"),
        "ELEVATION", *ELEVATION_RANGE))
    details.extend(_measure_details(
        has("minimumDepthInMeters"), has("maximumDepthInMeters"),
        "DEPTH", *DEPTH_RANGE))

    if not details:
        return core_df.sparkSession.createDataFrame(
            [], "record_id string, check_id string, expected string, found string"
        )
    return (
        core_df
        .select(F.col(id_col).cast("string").alias("record_id"),
                F.array(*details).alias("_details"))
        .select("record_id",
                F.explode(F.filter("_details", lambda d: d.isNotNull()))
                .alias("d"))
        .select("record_id", "d.check_id", "d.expected", "d.found")
    )


def column_mismatch_findings(
    spark: SparkSession, scan_dir: str, desc
) -> DataFrame | None:
    """COLUMN_MISMATCH over the RAW archive lines — the
    RecordStructureEvaluator analog (reference
    ``evaluator/record/RecordStructureEvaluator.java:35-56``: found column
    count vs the header's expected count, per record).

    The typed CSV scan silently pads/truncates ragged rows, so this check
    re-reads the file as raw lines (one-column CSV scan with an unused
    separator so per-file header skipping stays native) and counts
    delimiter splits — valid exactly when the descriptor disables quoting
    (``fieldsEnclosedBy=""``, the DwC-A default; dwca-io/awk split the
    same way). Returns None for quoted descriptors: the check is not
    claimable there and the caller documents the skip.

    Expected count comes from the first header line when present (the
    reference's ``columns.size()`` is the header list), else from the
    highest mapped index. Output ``(record_id, check_id, expected,
    found)``; still a single splittable JVM scan, no Python per row.
    """
    import os
    from itertools import islice

    if desc.quote:
        return None
    paths = [os.path.join(scan_dir, loc) for loc in desc.locations]
    headers = []
    for path in paths:
        with open(path, encoding=desc.encoding, errors="replace") as fh:
            headers += [ln.rstrip("\r\n") for ln in islice(fh, desc.ignore_header_lines)]
    if headers:
        expected = len(headers[0].split(desc.delimiter))
    else:
        idxs = [f.index for f in desc.fields if f.index is not None]
        if desc.id_index is not None:
            idxs.append(desc.id_index)
        expected = (max(idxs) + 1) if idxs else 0
    # raw text read, NOT a csv scan with a sentinel separator: any byte
    # (incl. stray control chars) may legally appear inside a field, so
    # there is no separator that cannot collide. Every file's header lines
    # are removed by exact line match (a data line identical to one of
    # them is dropped too).
    lines = spark.read.text(paths).withColumnRenamed("value", "line")
    if headers:
        lines = lines.where(~F.col("line").isin(sorted(set(headers))))
    parts = F.split(F.col("line"), re.escape(desc.delimiter))
    id_idx = desc.id_index if desc.id_index is not None else 0
    return (
        lines
        .select(F.try_element_at(parts, F.lit(id_idx + 1)).alias("record_id"),
                F.size(parts).alias("n_cols"))
        .where(F.col("n_cols") != expected)
        .select(
            "record_id",
            F.lit("COLUMN_MISMATCH").alias("check_id"),
            F.lit(str(expected)).alias("expected"),
            F.col("n_cols").cast("string").alias("found"),
        )
    )
