"""W2: deterministic filename collision naming.

The reference probes the filesystem per save
(file_handler.py:129-137 md, :180-188 html, :253-263 asset). Because
its retries are inline, the save order equals crawl order (seq), so
final names are a pure function of the successful row set ordered by
a deterministic save_seq. The engine therefore computes names
relationally AFTER the crawl (or idempotently at any epoch): group by
(dir, stripped_base, ext) — stripping a trailing ``-N`` because the
asset counter path re-strips it (file_handler.py:257), which couples
bases like ``logo`` and ``logo-1`` — then replay the probe loop
greedily inside each (tiny) group via applyInPandas.

Exactness over a window rank: a pure row_number would mis-name the
``logo``/``logo-1`` interaction cases; the greedy replay reproduces
os.path.exists semantics bit-for-bit while staying distributed (one
task per name-group; groups are bounded by FILENAME_COLLISION_LIMIT).
"""

from __future__ import annotations

import posixpath
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import FILENAME_COLLISION_LIMIT

_STRIP_N = re.compile(r"-\d+$")


def _assign_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy replay of the reference's exists-probe loop for one
    (dir, stripped_base, ext) group, ordered by (save_seq, save_pos).

    The order key is TWO columns, not a packed ``seq*2^k + pos``
    product: frontier seqs use high bits as namespaces (link
    expansions >= 2^50), so any packed product overflows int64 and
    silently aliases save orders across namespaces. A lexicographic
    two-column sort has no headroom limit. ``save_pos`` is optional
    (single-key callers like the html pass omit it)."""
    keys = ["save_seq"] + (["save_pos"] if "save_pos" in pdf.columns else [])
    pdf = pdf.sort_values(keys).reset_index(drop=True)
    taken: set[str] = set()
    names: list[str | None] = []
    for _, row in pdf.iterrows():
        base, ext, style = row["base"], row["ext"], row["style"]
        filename = f"{base}{ext}"
        counter = 1
        ok = True
        while filename in taken:
            if style == "asset":
                b, e = posixpath.splitext(filename)
                b = _STRIP_N.sub("", b)
                filename = f"{b}-{counter}{e}"
            else:  # md/html style keeps the original base
                filename = f"{base}-{counter}{ext}"
            counter += 1
            if counter > FILENAME_COLLISION_LIMIT:
                ok = False
                break
        if ok:
            taken.add(filename)
            names.append(filename)
        else:
            names.append(None)  # save_fail (file_handler.py:135-137)
    pdf["filename"] = names
    return pdf


def assign_collision_names(saves: DataFrame) -> DataFrame:
    """Input columns: dir, base, ext ('.md'/'.html'/asset ext), style
    ('page'|'asset'), save_seq (global deterministic save order) and
    optionally save_pos (within-page tiebreak; see _assign_group),
    plus passthrough columns. Output: same rows + ``filename`` (null
    => collision-limit save_fail).

    One shuffle on the group key; group sizes are tiny (bounded by the
    number of same-named files in one directory), so skew is not a
    concern at any scale."""
    result_schema = T.StructType(
        saves.schema.fields + [T.StructField("filename", T.StringType())]
    )
    # Full strip of ALL trailing -N runs: names generated from base
    # "post" (post-1, post-1-1, ...) and literal bases like "post-1"
    # must share one namespace group for the replay to be exact.
    keyed = saves.withColumn(
        "__grp_base", F.regexp_replace(F.col("base"), "(-\\d+)+$", "")
    )
    out = keyed.groupBy("dir", "__grp_base", "ext").applyInPandas(
        lambda pdf: _assign_group(pdf.drop(columns=["__grp_base"])),
        result_schema,
    )
    return out
