"""Output checker: counts failed turns in one execution of a workload.

A turn fails when it is missing from the output, appears more than once,
has ``status='error'``, or - for the sampled conversations - differs in any
output column from ``core.extract.oracle_extract`` run single-threaded on the
same rows. Rows whose key is not in the input, a lineage total that is off
by k rows and k order breaks in an ordered output also count, k each.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

from br_doc_ocr_spark.core.extract import OUTPUT_COLUMNS, oracle_extract

KEY = ["conv_id", "turn_idx"]


def _ts_ns(value) -> int:
    ts = pd.Timestamp(value)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return int(ts.value)


def _canon(rec: dict) -> tuple:
    """One output row in a form that compares equal across pandas (oracle)
    and Arrow (written parquet) representations."""
    return (
        rec["conv_id"], int(rec["turn_idx"]), rec["role"], rec["tool"],
        _ts_ns(rec["ts"]), rec["payload_kind"], rec["extracted_text"],
        dict(rec["fields"] or {}),
        tuple((s["field"], int(s["start"]), int(s["end"]))
              for s in (rec["spans"] if rec["spans"] is not None else ())),
        dict(rec["confidence_scores"] or {}),
        tuple(rec["low_confidence_fields"]
              if rec["low_confidence_fields"] is not None else ()),
        int(rec["n_fields"]), rec["status"],
    )


@dataclass
class Report:
    turns: int
    missing: int = 0
    duplicated: int = 0
    errors: int = 0
    mismatched: int = 0
    unexpected: int = 0
    lineage_off: int = 0
    order_breaks: int = 0
    failed: int = 0
    examples: list = field(default_factory=list)


class Checker:
    """Built once per run from the input rows; checks every execution."""

    def __init__(self, frame: pd.DataFrame, sample_conv_ids: list[str]):
        self.turns = len(frame)
        self.input_keys = pd.MultiIndex.from_frame(frame[KEY])
        self.sample = set(sample_conv_ids)
        oracle = oracle_extract(frame[frame["conv_id"].isin(self.sample)])
        self.expected = {(r[0], r[1]): r for r in map(
            _canon, oracle[OUTPUT_COLUMNS].to_dict("records"))}

    def check(self, out: pd.DataFrame, lineage_rows: int | None = None,
              ordered_keys: pd.DataFrame | None = None) -> Report:
        """``out`` holds every output row with (at least) OUTPUT_COLUMNS for
        the sampled conversations and KEY + status for the rest."""
        rep = Report(turns=self.turns)
        keys = pd.MultiIndex.from_frame(out[KEY])
        failed: set = set()
        missing = self.input_keys.difference(keys)
        dup = keys[keys.duplicated(keep=False)].unique()
        unexpected = keys.difference(self.input_keys)
        errors = keys[(out["status"] == "error").to_numpy()].unique()
        rep.missing, rep.duplicated = len(missing), len(dup)
        rep.unexpected, rep.errors = len(unexpected), len(errors)
        for part in (missing, dup, unexpected, errors):
            failed.update(part)

        sampled = out[out["conv_id"].isin(self.sample)]
        for rec in sampled[OUTPUT_COLUMNS].to_dict("records"):
            got = _canon(rec)
            want = self.expected.get(got[:2])
            if want is not None and got != want:
                rep.mismatched += 1
                failed.add(got[:2])
                if len(rep.examples) < 3:
                    rep.examples.append({"key": list(got[:2]), "got": repr(got)[:300],
                                         "want": repr(want)[:300]})
        if lineage_rows is not None:
            rep.lineage_off = abs(int(lineage_rows) - self.turns)
        if ordered_keys is not None:
            c, t = ordered_keys["conv_id"], ordered_keys["turn_idx"]
            pc, pt = c.shift(), t.shift()
            rep.order_breaks = int(((c < pc) | ((c == pc) & (t < pt))).sum())
        rep.failed = len(failed) + rep.lineage_off + rep.order_breaks
        return rep


def _parquet_files(path: str) -> list[str]:
    # Spark's markers (_SUCCESS, .crc) are not data
    return sorted(f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
                  if not os.path.basename(f).startswith(("_", ".")))


def read_output(path: str, sample_conv_ids: list[str]) -> pd.DataFrame:
    """Every output row's key and status, plus all OUTPUT_COLUMNS for the
    sampled conversations (reading every column of every row would cost
    more than the check needs)."""
    light = pq.read_table(path, columns=KEY + ["status"]).to_pandas()
    full = pq.read_table(path, columns=OUTPUT_COLUMNS,
                         filters=[("conv_id", "in", list(sample_conv_ids))])
    full = pd.DataFrame(full.to_pylist(), columns=OUTPUT_COLUMNS)
    rest = light[~light["conv_id"].isin(set(sample_conv_ids))]
    return pd.concat([rest, full], ignore_index=True)


def ordered_keys(path: str) -> pd.DataFrame:
    """Keys in the order a reader of the part files sees them."""
    return pd.concat([pq.read_table(f, columns=KEY).to_pandas()
                      for f in _parquet_files(path)], ignore_index=True)


def lineage_rows(path: str) -> int:
    return int(pq.read_table(path, columns=["row_count"])
               .column("row_count").to_pandas().sum())


def output_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def output_files(path: str) -> int:
    return len(_parquet_files(path))
