"""Pass 1 — per-record structure + interpretation checks (narrow, one scan).

Reference analog: ``RecordEvaluator`` chain (api/RecordEvaluator.java:11-23,
api/model/RecordEvaluatorChain.java:14-37): a pure function from one record
to a (possibly empty) list of issue details, with all checks fused into one
pass over the file (processor/DataFileRecordsActor.java:62-70).

Spark design: every check is a predicate; all of them are evaluated in ONE
select over the scan (whole-stage codegen fuses them), each producing a
nullable detail struct; the structs are array-packed, null-filtered and
exploded into the violations DF. No shuffle; Catalyst prunes ``html`` out of
the scan entirely unless the extraction check is enabled (html:binary
dominates bytes at 100 TB — SURVEY.md §7.4). The battery is Spark SQL text
that the JVM parses once per slot (``functions/sqltext.py``); only the two
pandas UDF slots and the caller's CustomCheck Columns are Column algebra.
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.extraction import extract_text_md5_udf
from ..functions.predicates import NON_WS, is_blank_sql
from ..functions.sqltext import ident, in_list, string
from ..functions.url import url_well_formed
from ..model import CheckId

#: plausibility window for warc_ts (Common Crawl started 2008)
TS_MIN = "2008-01-01 00:00:00"
TS_MAX = "2035-01-01 00:00:00"


def _struct(check_id: str, expected: str, found: str) -> str:
    """Detail struct as SQL text over the SQL ``found`` —
    RecordEvaluationResultDetails analog
    (api/model/RecordEvaluationResultDetails.java:16-45)."""
    return (
        f"struct({string(check_id)} AS check_id, {string(expected)} AS expected, "
        f"{found} AS found)"
    )


def _detail(check_id: str, violated: str, expected: str, found: str) -> str:
    """Nullable detail struct: the struct when the SQL ``violated`` holds."""
    return f"CASE WHEN {violated} THEN {_struct(check_id, expected, found)} END"


@dataclass(frozen=True)
class CustomCheck:
    """User-defined validation rule in Column algebra — the extension
    surface the reference lacks (its evaluator set is fixed at build time,
    evaluator/EvaluatorFactory.java). A custom check is one more nullable
    detail slot in the SAME pass-1 scan: zero extra scans, zero shuffles,
    fused by whole-stage codegen like the built-ins.

    ``violated`` is a boolean Column over the pages schema; ``found`` the
    value surfaced in the report. ``blocking=True`` adds the check to the
    indexability blocking set for verdicts (IndexableRules analog)."""

    check_id: str
    violated: Column
    expected: str
    found: Column
    blocking: bool = False


def partition_id_col(ts: Column, n_buckets: int = 1, key: Column | None = None) -> Column:
    """Logical partition id: warc_ts month window (+ optional url-hash bucket).
    This is the unit of the checkpoint/resume protocol and of per-partition
    verdicts (north star). NULL ts rows go to the 'UNKNOWN' partition.
    ``partition_id_sql`` is the same expression as SQL text."""
    month = F.coalesce(F.date_format(ts, "yyyy-MM"), F.lit("UNKNOWN"))
    if n_buckets <= 1:
        return month
    bucket = F.pmod(F.xxhash64(key if key is not None else F.lit(0)), F.lit(n_buckets))
    return F.concat(month, F.lit("-b"), bucket.cast("string"))


def partition_id_sql(ts: str, n_buckets: int = 1, key: str | None = None) -> str:
    """``partition_id_col`` over the SQL expressions ``ts`` and ``key``."""
    month = f"coalesce(date_format({ts}, 'yyyy-MM'), 'UNKNOWN')"
    if n_buckets <= 1:
        return month
    bucket = f"pmod(xxhash64({key if key is not None else '0'}), {int(n_buckets)})"
    return f"concat({month}, '-b', CAST({bucket} AS STRING))"


def record_check_details(key: str, check_extraction: bool) -> list[str | Column]:
    """The per-record check battery as nullable detail structs over the SQL
    identifier ``key``: SQL text for every slot, a Column for the two slots
    a pandas UDF decides (URL_MALFORMED, TEXT_EXTRACTION_MISMATCH)."""
    key_empty = is_blank_sql(key)
    details: list[str | Column] = [
        _detail(CheckId.KEY_EMPTY, key_empty, "non-empty url", f"coalesce({key}, 'NULL')"),
        F.when(
            F.expr(f"NOT {key_empty}") & ~url_well_formed(key),
            F.expr(_struct(CheckId.URL_MALFORMED, "well-formed http(s) URL", key)),
        ),
        _detail(CheckId.WARC_TS_INVALID, "warc_ts IS NULL", "parseable timestamp", "'NULL'"),
        _detail(
            CheckId.WARC_TS_UNLIKELY,
            f"warc_ts IS NOT NULL AND (warc_ts < CAST('{TS_MIN}' AS TIMESTAMP) "
            f"OR warc_ts > CAST('{TS_MAX}' AS TIMESTAMP))",
            f"timestamp in [{TS_MIN}, {TS_MAX}]",
            "date_format(warc_ts, 'yyyy-MM-dd HH:mm:ss')",
        ),
        # TEXT_EMPTY only consults html when the extraction check already
        # forces an html scan; otherwise it must not break the column
        # pruning that keeps the dominant binary column out of the read
        # path (SURVEY.md §7.4 "html:binary width").
        _detail(
            CheckId.TEXT_EMPTY,
            "(text IS NULL OR text = '') AND "
            + ("(html IS NOT NULL AND length(html) > 0)" if check_extraction else "true"),
            "non-empty extracted text",
            "coalesce(text, 'NULL')",
        ),
    ]
    if check_extraction:
        # byte-identity via md5 equality: the UDF ships back a 32-char digest
        # per row instead of the multi-KB extracted string (see
        # extract_text_md5_udf), and the JVM compares constant-width digests.
        details.append(
            F.when(
                F.expr("html IS NOT NULL AND text IS NOT NULL AND text != ''")
                & (F.expr("md5(encode(text, 'UTF-8'))") != extract_text_md5_udf("html")),
                F.expr(
                    _struct(
                        CheckId.TEXT_EXTRACTION_MISMATCH,
                        "text byte-identical to extract_text(html)",
                        "substring(text, 1, 256)",
                    )
                ),
            )
        )
    # S5 FileNormalizer analog (util/FileNormalizer.java:44-72): the typed
    # table is already UTF-8, so the residual check is for replacement
    # characters — evidence of mojibake upstream of the table write.
    details.append(
        _detail(
            CheckId.TEXT_NOT_UTF8,
            f"text IS NOT NULL AND contains(text, {string(chr(0xFFFD))})",
            "text free of U+FFFD replacement characters",
            "substring(text, 1, 256)",
        )
    )
    return details


def _lang_codes(lang_dim: DataFrame | Collection[str], lang_col: str) -> list[str]:
    """The known-language code set of a dimension: a collection of codes as
    given, or a dimension DataFrame's distinct non-null ``lang_col`` values
    (one small collect — the dimension is driver-sized, as the broadcast
    it replaces already required). Sorted, so the plan is stable."""
    if isinstance(lang_dim, DataFrame):
        lang = ident(lang_col)
        rows = lang_dim.where(f"{lang} IS NOT NULL").selectExpr(lang).distinct()
        return sorted(r[0] for r in rows.collect())
    return sorted({c for c in lang_dim if c is not None})


def run_record_checks(
    pages: DataFrame,
    check_extraction: bool = True,
    n_buckets: int = 1,
    key_col: str = "url",
    lang_dim: DataFrame | Collection[str] | None = None,
    lang_col: str = "lang",
    custom_checks: tuple = (),
) -> DataFrame:
    """pages → violations(url, check_id, expected, found, related_data,
    partition_id). One narrow scan, zero shuffles.

    When ``lang_dim`` is given (a dimension DataFrame or a collection of
    codes, see :func:`_lang_codes`), the referential-integrity check (J1,
    ReferentialIntegrityEvaluator.java:54-87) is one more detail slot in
    this scan: ``lang`` present, not blank and not in the code set. The
    code set is an in-plan literal list, so the check joins nothing and
    starts no Spark job of its own; same semantics as the anti-join in
    operators.referential (a null or blank ``lang`` is never an orphan)."""
    key = ident(key_col)
    details = record_check_details(key, check_extraction)
    if lang_dim is not None:
        lang = ident(lang_col)
        details.append(
            _detail(
                CheckId.LANG_UNKNOWN,
                f"{lang} IS NOT NULL AND {lang} RLIKE {string(NON_WS)} "
                f"AND NOT {in_list(lang, _lang_codes(lang_dim, lang_col))}",
                f"{lang_col} present in dimension",
                lang,
            )
        )
    for cc in custom_checks:
        # user rules ride the same detail array — fused into this scan
        details.append(
            F.when(
                cc.violated,
                F.struct(
                    F.expr(f"{string(cc.check_id)} AS check_id"),
                    F.expr(f"{string(cc.expected)} AS expected"),
                    cc.found.cast("string").alias("found"),
                ),
            )
        )
    related = (
        "map('lang', coalesce(lang, 'NULL'), 'warc_ts', "
        "coalesce(date_format(warc_ts, 'yyyy-MM-dd HH:mm:ss'), 'NULL'))"
    )
    slots = F.array(*(F.expr(d) if isinstance(d, str) else d for d in details))
    # explode ALL detail slots then filter nulls — NOT a higher-order
    # F.filter over the array: HOF lambdas are CodegenFallback and knock the
    # Generate node out of whole-stage codegen; explode+where keeps the
    # entire check battery inside one codegen'd span (verified via
    # explain("formatted") codegen ids) and measures ~18% faster.
    return (
        pages.select(
            F.expr(f"{key} AS url"),
            F.expr(f"{partition_id_sql('warc_ts', n_buckets, key)} AS partition_id"),
            F.expr(f"{related} AS related_data"),
            F.explode(slots).alias("d"),
        )
        .where("d IS NOT NULL")
        .selectExpr(
            "url",
            "d.check_id AS check_id",
            "d.expected AS expected",
            "d.found AS found",
            "related_data",
            "partition_id",
        )
    )


#: ISO-639 language → writing system(s) whose dominance is CONSISTENT with
#: the declaration. Latin-script languages share one entry; ja allows both
#: kana and cjk (kanji-heavy pages). Languages not in the map are never
#: flagged — no claim, no check.
LANG_SCRIPTS: dict[str, tuple[str, ...]] = {
    "en": ("latin",), "de": ("latin",), "fr": ("latin",), "es": ("latin",),
    "pt": ("latin",), "it": ("latin",), "nl": ("latin",), "tr": ("latin",),
    "ru": ("cyrillic",), "uk": ("cyrillic",), "bg": ("cyrillic",),
    "zh": ("cjk",), "ja": ("kana", "cjk"), "ko": ("hangul",),
    "ar": ("arabic",), "fa": ("arabic",), "he": ("hebrew",),
    "el": ("greek",), "hi": ("devanagari",),
}


def lang_script_mismatch(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Cross-field consistency between the DECLARED language and the
    OBSERVED writing system: rows whose ``lang_col`` claims a language in
    ``LANG_SCRIPTS`` while the text's dominant Unicode script is neither
    an allowed script for that language nor ``'und'`` (no script
    characters at all — that is a completeness finding, not a script
    disagreement). The webtext analog of the reference's cross-field
    record-interpretation checks (country-vs-coordinates family,
    evaluator/record/OccurrenceInterpretationEvaluator.java) — metadata
    that contradicts content is the finding.

    Output: ``(*id_cols, lang, dominant_script)``. Pure Column algebra
    over ``dominant_script`` (strip-and-measure regex counts + one argmax
    over a 9-struct array) — zero shuffles, zero UDFs, whole-stage
    codegen; linear scan at any table size."""
    from ..functions.textstats import dominant_script

    lang = F.col(lang_col)
    dom = dominant_script(F.col(text_col))
    checkable = lang.isin(*LANG_SCRIPTS.keys())
    allowed = F.map_from_arrays(
        F.array(*[F.lit(k) for k in LANG_SCRIPTS]),
        F.array(
            *[
                F.array(*[F.lit(s) for s in v])
                for v in LANG_SCRIPTS.values()
            ]
        ),
    )
    keep = id_cols if id_cols is not None else [
        c for c in df.columns if c not in (lang_col, text_col)
    ]
    return (
        df.select(
            *keep,
            lang.alias("lang"),
            dom.alias("dominant_script"),
            checkable.alias("_chk"),
            allowed[lang].alias("_allowed"),
        )
        .where(
            F.col("_chk")
            & (F.col("dominant_script") != "und")
            & ~F.array_contains(F.col("_allowed"), F.col("dominant_script"))
        )
        .drop("_chk", "_allowed")
    )


def lang_script_custom_check(
    lang_col: str = "lang", text_col: str = "text", blocking: bool = False
) -> CustomCheck:
    """``lang_script_mismatch`` packaged as a :class:`CustomCheck`, so the
    cross-field consistency rule rides the engine's pass-1 scan as one
    more fused detail slot — zero extra scans, violations landing in the
    standard report/violations surface under ``LANG_SCRIPT_MISMATCH``.
    Same semantics as the standalone operator: unmapped languages make no
    claim, script-less text ('und') is a completeness matter."""
    from ..functions.textstats import dominant_script

    lang = F.col(lang_col)
    dom = dominant_script(F.col(text_col))
    allowed = F.map_from_arrays(
        F.array(*[F.lit(k) for k in LANG_SCRIPTS]),
        F.array(
            *[F.array(*[F.lit(s) for s in v]) for v in LANG_SCRIPTS.values()]
        ),
    )
    violated = (
        lang.isin(*LANG_SCRIPTS.keys())
        & (dom != "und")
        & ~F.array_contains(allowed[lang], dom)
    )
    return CustomCheck(
        check_id="LANG_SCRIPT_MISMATCH",
        violated=F.coalesce(violated, F.lit(False)),
        expected="dominant script consistent with declared lang",
        found=F.concat_ws("/", lang, dom),
        blocking=blocking,
    )


def mojibake_custom_check(
    text_col: str = "text", blocking: bool = False
) -> CustomCheck:
    """Double-decode corruption (functions/encoding.py) as a
    :class:`CustomCheck`: text that decoded *successfully* through the
    wrong codec ("cafÃ©", "donâ€™t") — the defect the byte-level
    TEXT_NOT_UTF8 charset sniff can never see.  Rides the engine's pass-1
    scan as one more fused detail slot (the signals are ``regexp_count``
    Column algebra); ``found`` carries the per-signal counts plus whether
    the JVM round-trip repair (``fix_mojibake``) would recover the row, so
    the violation row doubles as the reprocessing work order."""
    from ..functions.encoding import fix_mojibake, mojibake_exprs

    text = F.col(text_col)
    sig = mojibake_exprs(text)
    repairable = fix_mojibake(text) != F.coalesce(text, F.lit(""))
    found = F.concat_ws(
        " ",
        F.concat(F.lit("latin1="), sig["n_latin1_digraphs"]),
        F.concat(F.lit("tri="), sig["n_trigraphs"]),
        F.concat(F.lit("c1="), sig["n_c1_controls"]),
        F.concat(F.lit("fffd="), sig["n_fffd"]),
        F.concat(F.lit("repairable="), repairable.cast("string")),
    )
    return CustomCheck(
        check_id="TEXT_MOJIBAKE",
        violated=F.coalesce(sig["has_mojibake"], F.lit(False)),
        expected="text free of double-decode (mojibake) artifacts",
        found=found,
        blocking=blocking,
    )


def blocklist_custom_check(
    blocked_terms: "list[str]", text_col: str = "text", blocking: bool = False
) -> CustomCheck:
    """The C4 bad-words gate (operators/curation.term_blocklist_flags) as
    a :class:`CustomCheck`: any exact whole-token blocklist hit violates.
    The blocklist is an in-plan literal array, so the membership test
    fuses into the engine's pass-1 scan like every other detail slot —
    zero extra scans at 10^12 rows. ``found`` carries the hit count plus
    the (sorted) distinct blocked terms present, so the violation row is
    reviewable without re-reading the document."""
    if not blocked_terms:
        raise ValueError("blocklist_custom_check: empty blocklist")
    blocked = F.array(
        *[F.lit(t.lower()) for t in sorted(set(t.lower() for t in blocked_terms))]
    )
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    hits = F.size(F.filter(toks, lambda t: F.array_contains(blocked, t)))
    present = F.array_join(
        F.array_sort(F.array_intersect(F.array_distinct(toks), blocked)), ","
    )
    return CustomCheck(
        check_id="TEXT_BLOCKLISTED",
        violated=F.coalesce(hits > 0, F.lit(False)),
        expected="no blocklisted tokens",
        found=F.concat(F.lit("hits="), hits.cast("string"), F.lit(" terms="), present),
        blocking=blocking,
    )


def readability_custom_check(
    min_fre_micro: int,
    max_fre_micro: int,
    text_col: str = "text",
    blocking: bool = False,
) -> CustomCheck:
    """Flesch reading-ease band gate (functions/textstats.readability_exprs)
    as a :class:`CustomCheck`: text whose FRE falls outside
    ``[min_fre_micro, max_fre_micro]`` violates — the caller picks the
    band (e.g. ``< 0`` flags keyword-stuffed/garbage density; the
    one-syllable-per-word ceiling is ~121.2e6, so anything above it is
    punctuation-run-dominated fragments, not prose). NULL/wordless text never
    violates here (TEXT_EMPTY owns that finding). Pure Column algebra →
    one more fused pass-1 slot."""
    if min_fre_micro > max_fre_micro:
        raise ValueError("readability_custom_check: min > max")
    from ..functions.textstats import readability_exprs

    fre = readability_exprs(F.col(text_col))["fre_micro"]
    violated = fre.isNotNull() & (
        (fre < F.lit(min_fre_micro)) | (fre > F.lit(max_fre_micro))
    )
    return CustomCheck(
        check_id="TEXT_READABILITY_OUT_OF_BAND",
        violated=F.coalesce(violated, F.lit(False)),
        expected=f"fre_micro in [{min_fre_micro}, {max_fre_micro}]",
        found=fre.cast("string"),
        blocking=blocking,
    )
