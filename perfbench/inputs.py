"""Seeded inputs: one transcript table per (seed, size), written once and
reused by every workload and run that asks for the same pair.

The table comes from ``synth.make_transcripts_pandas`` unchanged: mixed
payload kinds, one ``conv-heavy`` conversation about 100x the median length
and the fixed ``conv-contract`` edge turns. ``stream_backfill`` reads the
same rows landed as ``N_FILES`` small parquet files.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# ~8.7k turns, 1 200 of them in the hot conversation: small enough that a
# run - cold session start, executions, a local[1] leg and two restarts -
# stays near 40 s on 4 busy cores.
N_CONVS = 600
MEAN_TURNS = 12
N_FILES = 6
HEAD_FILES = 3  # the stream's settling call and local[1] leg
SAMPLE_CONVS = 40  # conversations compared field for field with the oracle
SIZE_TAG = f"c{N_CONVS}-t{MEAN_TURNS}-f{N_FILES}-h{HEAD_FILES}"
KEEP_CACHED = 12  # (seed, size) tables kept on disk


@dataclass
class Inputs:
    seed: int
    table: str          # one parquet file with every row
    files_dir: str      # the same rows as N_FILES files, oldest first
    head_dir: str       # only the HEAD_FILES oldest of those files
    frame: pd.DataFrame  # the rows, for the checker and the kernel probes

    @property
    def n_turns(self) -> int:
        return len(self.frame)

    def sample_conv_ids(self) -> list[str]:
        """Deterministic per seed; always holds the hot conversation and
        ``conv-contract``."""
        ids = sorted(set(self.frame["conv_id"]) - {"conv-heavy", "conv-contract"})
        rng = np.random.RandomState(self.seed)
        picked = rng.choice(len(ids), size=min(SAMPLE_CONVS, len(ids)), replace=False)
        return ["conv-heavy", "conv-contract"] + [ids[i] for i in sorted(picked)]


def _make(seed: int) -> pd.DataFrame:
    from br_doc_ocr_spark.synth import make_transcripts_pandas

    df = make_transcripts_pandas(n_convs=N_CONVS, mean_turns=MEAN_TURNS, seed=seed)
    df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects TIMESTAMP(NANOS)
    return df


def _write(seed: int, path: str) -> None:
    df = _make(seed)
    os.makedirs(path)
    df.to_parquet(f"{path}/table.parquet", index=False)
    os.makedirs(f"{path}/files")
    os.makedirs(f"{path}/head")
    per = -(-len(df) // N_FILES)
    for i in range(N_FILES):
        name = f"part-{i:04d}.parquet"
        df.iloc[i * per:(i + 1) * per].to_parquet(f"{path}/files/{name}", index=False)
        # the file source orders files by modification time: pin it, so
        # file i is always trigger i
        stamp = 1_700_000_000 + i
        os.utime(f"{path}/files/{name}", (stamp, stamp))
        if i < HEAD_FILES:
            shutil.copy2(f"{path}/files/{name}", f"{path}/head/")


def load(cache_dir: str, seed: int) -> Inputs:
    """The inputs for ``seed``; builds them on first use (not timed)."""
    path = os.path.join(cache_dir, f"seed{seed}-{SIZE_TAG}")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        _write(seed, tmp)
        os.replace(tmp, path)
        _prune(cache_dir)
    return Inputs(seed=seed, table=f"{path}/table.parquet",
                  files_dir=f"{path}/files",
                  head_dir=f"{path}/head",
                  frame=pd.read_parquet(f"{path}/table.parquet"))


def _prune(cache_dir: str) -> None:
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
               if e.startswith("seed") and ".tmp" not in e]
    entries.sort(key=os.path.getmtime)
    for stale in entries[:-KEEP_CACHED]:
        shutil.rmtree(stale, ignore_errors=True)
