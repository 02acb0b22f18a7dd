"""Regex source selection (the reference's -rg and -regexPath modes).

-rg (Arguments.java:184-201, 306-346): flat mode — children of a
directory whose *name* matches a pattern.

-regexPath (Arguments.java:363-437): per-depth mode — a '/'-separated
chain rx0/rx1/... where the path component at depth d must match
regexes[d]; a directory matched at the final depth is selected
wholesale. The lister prunes its walk with the chain
(``sources/lister.list_tree(..., depth_regexes=...)``), so unmatched
subtrees are never listed.

The name filter is a pure DataFrame filter over the listing — no
filesystem point-probes (the reference skips per-file existence RPCs
in regex mode for exactly this reason, DistCPPlus.java:180-188).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _basename(path: Column) -> Column:
    return F.element_at(F.split(path, "/"), -1)


def filter_name_regex(file_meta: DataFrame, pattern: str) -> DataFrame:
    """-rg: keep rows whose file NAME fully matches ``pattern``.

    The reference uses Java String.matches (full match,
    Arguments.java:330-336); rlike is a contains-match, so anchor.
    """
    anchored = f"^(?:{pattern})$"
    return file_meta.filter(_basename(F.col("path")).rlike(anchored))


def touched_dirs(selected: DataFrame, root: str) -> DataFrame:
    """Ancestor directories of every selected path (the reference's
    touchedDirs set, Arguments.java:61-74) — needed by the
    attribute-preservation finalize pass."""
    root = root.rstrip("/")
    rel = F.expr(f"substring(path, {len(root) + 2})")  # literal strip
    parts = F.split(rel, "/")
    ancestors = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.concat_ws(
            "/", F.lit(root), F.concat_ws("/", F.slice(parts, 1, i))
        ),
    )
    return (
        selected.select(F.explode(ancestors).alias("dir_path"))
        .distinct()
    )
