"""Seeded input cache for the benchmark.

Inputs are written by ``datagen.write_transcripts_parquet`` into a
directory keyed by (turns, seed, files). A directory is generated once
and then only read: regenerating into a used directory with another file
count leaves stale shards behind (the generator never deletes old files),
so a key maps to exactly one directory and an unfinished directory is
wiped and regenerated from scratch.
"""

from __future__ import annotations

import os
import shutil

READY = "_BENCH_READY"


def input_dir(cache_root: str, turns: int, seed: int, files: int) -> str:
    return os.path.join(cache_root, f"transcripts_t{turns}_s{seed}_f{files}")


def ensure_input(cache_root: str, turns: int, seed: int, files: int) -> tuple[str, bool]:
    """Return ``(path, generated)``; generate only into a fresh directory."""
    from dataflow_spark.datagen import write_transcripts_parquet

    path = input_dir(cache_root, turns, seed, files)
    if os.path.exists(os.path.join(path, READY)):
        return path, False
    tmp = f"{path}.tmp-{os.getpid()}"
    write_transcripts_parquet(tmp, n_turns=turns, seed=seed, n_files=files)
    with open(os.path.join(tmp, READY), "w") as f:
        f.write(f"turns={turns} seed={seed} files={files}\n")
    try:
        os.replace(tmp, path)
    except OSError:
        # another process finished the same key first; keep its copy
        shutil.rmtree(tmp)
        if not os.path.exists(os.path.join(path, READY)):
            raise
        return path, False
    return path, True


def read_back_rows(path: str) -> int:
    """Row count of every parquet file in the directory, skipping the names
    Spark skips (``_*``, ``.*``), so stale shards would show here. Read from
    the file footers: no Spark job runs before the timed part, which keeps
    Spark's first-job cost in the timed part."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()
