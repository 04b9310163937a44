"""Deletion vectors — merge-on-read row-level deletes (VERDICT r8 item 4).

Copy-on-write DELETE rewrites every file holding a matching row: a 1-row
GDPR delete in a 1 GB file rewrites 1 GB, and at 100 TB with trickle
deletes the write amplification is the cost center. The public pattern
is Iceberg v2's position delete files / Delta's deletion vectors: commit
the deleted row POSITIONS of each touched file as a sidecar, apply it at
read, and compact lazily once a file's deleted ratio crosses a threshold.

Layout and lifecycle:

- A DV is an immutable Iceberg-style position-delete file
  ``_dv/<hex>.parquet``: one ``pos long`` column holding the 0-based
  deleted row positions of ONE data file, sorted ascending. It is NEVER
  inlined into the txlog (commit bytes stay O(delta)).
- The manifest FILE ENTRY carries only ``{"dv": {"path": rel,
  "n_deleted": k}}``, ``k`` being the sidecar's footer row count. A later
  delete on the same file writes a NEW sidecar (old ∪ new positions) and
  the commit replaces the entry, so time travel reads the old DV.
- ``write_dvs`` writes every sidecar of a build in ONE Spark write
  (``partitionBy`` the touched-file index into a staging directory under
  ``_dv/``, then a driver-side rename); ``positions_df`` reads them with
  ONE parquet scan for the readers' LEFT ANTI join on
  ``(_metadata.file_name, _metadata.row_index)``. No Python worker runs
  and nothing is collected. Files without a DV take the plain-scan path.
- ``vacuum`` reclaims every ``_dv/`` entry no retained version
  references (superseded sidecars, crashed staging directories).

Positions come from parquet's physical row order (``_metadata.row_index``),
which is immutable for an immutable file.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F


def positions_df(spark, root: str, entries: list[dict]):
    """(__dv_base, __dv_pos) rows for every deleted position of the
    DV-carrying ``entries`` — the anti-join's right side: one parquet
    scan of their sidecars, each sidecar's file name mapped to its data
    file's basename through a literal map (file-count-bounded)."""
    base_of = F.create_map(
        *[
            F.lit(x)
            for e in entries
            for x in (os.path.basename(e["dv"]["path"]), os.path.basename(e["path"]))
        ]
    )
    return (
        spark.read.schema("pos long")
        .parquet(*[os.path.join(root, e["dv"]["path"]) for e in entries])
        .select(
            base_of[F.col("_metadata.file_name")].alias("__dv_base"),
            F.col("pos").alias("__dv_pos"),
        )
    )


def write_dvs(
    root: str, new, old, n_files: int
) -> dict[int, tuple[str, int]]:
    """Write the sidecars of one DV build in ONE Spark write; returns
    ``{index: (rel path, n_deleted)}``, the count read from the footer.

    ``new`` holds the build's newly deleted (``__i`` file index, ``pos``)
    rows; ``old`` (or None) the existing positions of the touched files
    that already carry a DV. A file's old positions are kept only when
    it has at least one new row, so a file with no new hit gets no
    sidecar. New rows come from a DV-aware scan, so they never repeat an
    old position and every (index, pos) lands once."""
    rows = new.select("__i", "pos", F.lit(True).alias("__new"))
    if old is not None:
        rows = rows.unionByName(old.select("__i", "pos", F.lit(False).alias("__new")))
    # one sort serves the window, the per-index split and the ascending
    # ``pos`` order of each sidecar (the window keeps its input order)
    rows = rows.repartition(max(1, min(n_files, 64)), "__i").sortWithinPartitions(
        "__i", "pos"
    )
    if old is not None:
        rows = rows.withColumn(
            "__hit", F.max("__new").over(Window.partitionBy("__i"))
        ).filter("__hit")
    staging = os.path.join(root, "_dv", f"_staging-{uuid.uuid4().hex}")
    rows.select("__i", "pos").write.partitionBy("__i").parquet(staging)
    out = {}
    for d in sorted(os.listdir(staging)):
        if not d.startswith("__i="):
            continue
        files = [
            f for f in os.listdir(os.path.join(staging, d)) if f.endswith(".parquet")
        ]
        if len(files) != 1:
            raise RuntimeError(
                f"deletion vector build wrote {len(files)} files for {d} "
                "(expected exactly one)"
            )
        rel = os.path.join("_dv", f"{uuid.uuid4().hex}.parquet")
        full = os.path.join(root, rel)
        os.replace(os.path.join(staging, d, files[0]), full)
        out[int(d[len("__i="):])] = (rel, pq.ParquetFile(full).metadata.num_rows)
    shutil.rmtree(staging)
    return out
