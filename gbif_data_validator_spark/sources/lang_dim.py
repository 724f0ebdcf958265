"""ISO-639-1 language dimension table (FIXTURES.md F3).

Reference analog: the vocabulary/dimension the referential check validates
against — the core-id set loaded into an awk hash
(util/FileBashUtilities.java:44). The engine checks against the
``ISO_639_1`` code list directly (an in-plan ``isin``); ``lang_dim`` is the
same set as a DataFrame for the join-based operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# 183 ISO-639-1 codes (public standard list).
ISO_639_1 = [
    "aa", "ab", "ae", "af", "ak", "am", "an", "ar", "as", "av", "ay", "az",
    "ba", "be", "bg", "bh", "bi", "bm", "bn", "bo", "br", "bs", "ca", "ce",
    "ch", "co", "cr", "cs", "cu", "cv", "cy", "da", "de", "dv", "dz", "ee",
    "el", "en", "eo", "es", "et", "eu", "fa", "ff", "fi", "fj", "fo", "fr",
    "fy", "ga", "gd", "gl", "gn", "gu", "gv", "ha", "he", "hi", "ho", "hr",
    "ht", "hu", "hy", "hz", "ia", "id", "ie", "ig", "ii", "ik", "io", "is",
    "it", "iu", "ja", "jv", "ka", "kg", "ki", "kj", "kk", "kl", "km", "kn",
    "ko", "kr", "ks", "ku", "kv", "kw", "ky", "la", "lb", "lg", "li", "ln",
    "lo", "lt", "lu", "lv", "mg", "mh", "mi", "mk", "ml", "mn", "mr", "ms",
    "mt", "my", "na", "nb", "nd", "ne", "ng", "nl", "nn", "no", "nr", "nv",
    "ny", "oc", "oj", "om", "or", "os", "pa", "pi", "pl", "ps", "pt", "qu",
    "rm", "rn", "ro", "ru", "rw", "sa", "sc", "sd", "se", "sg", "si", "sk",
    "sl", "sm", "sn", "so", "sq", "sr", "ss", "st", "su", "sv", "sw", "ta",
    "te", "tg", "th", "ti", "tk", "tl", "tn", "to", "tr", "ts", "tt", "tw",
    "ty", "ug", "uk", "ur", "uz", "ve", "vi", "vo", "wa", "wo", "xh", "yi",
    "yo", "za", "zh", "zu",
]


def lang_dim(spark: SparkSession) -> DataFrame:
    """(lang, lang_name) dimension. ~180 rows."""
    return spark.createDataFrame(
        [(c, f"lang:{c}") for c in ISO_639_1], schema="lang string, lang_name string"
    )
