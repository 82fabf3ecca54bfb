"""File-level compaction (SURVEY.md §2.8 M2 realization (b)).

Semantic merge already happens inside the rollup shuffle (realization
(a)); this is the physical maintenance pass the reference's doCompact
also performs -- many small per-slice files -> one well-sized file per
partition (the `rewrite_data_files` analog for plain parquet), followed
by source cleanup (M4, compact.go:41-43 os.RemoveAll).

Mirrors the reference quirks deliberately:
  * 0 inputs -> no-op (compact.go:27-28 zero ULID)
  * 1 input file in a partition -> passthrough untouched
    (compact.go:29-32: single blocks are NOT re-compacted)
  * strictly after all copy windows, never concurrent (M3) -- the caller
    sequences it after ResumableRollup completes.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from ..sources.tables import read_tier


def compact_partitions(
    spark: SparkSession,
    tier_path: str,
    target_files_per_partition: int = 1,
    min_files_to_compact: int = 2,
) -> dict[str, int]:
    """Rewrite each part_day=* partition dir down to N files.

    Returns {partition_name: files_before} for compacted partitions.
    Writes to a staging dir then swaps (read-after-write safety: the
    partition is never observable half-rewritten)."""
    import shutil

    root = Path(tier_path)
    # crash hygiene: stale staging/backup dirs from an interrupted pass.
    # Both are dot-prefixed so they can NEVER match the part_day=* glob
    # (a reader or re-run between the two renames must not double-count);
    # a leftover backup means the previous swap didn't finish -- restore
    # it if the live partition vanished, else drop it.
    for stale in sorted(root.glob(".compact-tmp.part_day=*")):
        shutil.rmtree(stale)
    for backup in sorted(root.glob(".old.part_day=*")):
        live = root / backup.name.removeprefix(".old.")
        if not live.exists():
            backup.rename(live)  # crash between the renames: roll back
        else:
            shutil.rmtree(backup)
    done: dict[str, int] = {}
    for part in sorted(root.glob("part_day=*")):
        files = list(part.glob("*.parquet"))
        if len(files) < min_files_to_compact:  # 1-block passthrough quirk
            continue
        staging = part.with_name(".compact-tmp." + part.name)
        (
            read_tier(spark, str(part))
            .coalesce(target_files_per_partition)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        backup = part.with_name(".old." + part.name)
        part.rename(backup)
        staging.rename(part)
        shutil.rmtree(backup)  # M4: delete source after merge
        done[part.name] = len(files)
    return done
