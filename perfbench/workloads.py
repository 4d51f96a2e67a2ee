"""Seeded inputs for the benchmark workloads.

Everything the program under test reads is generated here, from the
workload seed alone. What the generator knows about its own inputs (how
many events it made late or malformed, and which ones) is returned next
to the paths; only the output checks read it.

Workloads:

- ``stream_consume``: JSON micro-batch files in the reference wire format
  (``event_time, location, new_cases, total_cases``) plus a dim CSV,
  drained through ``run.main(["consume", ...])``.
- ``corpus_relational``: the 22 ``tpch_*`` queries.
- ``corpus_llm``: ten build-heavy LLM-curation queries.

The two corpus workloads read TPC-H-profile tables and the
documents/embeddings/events corpus from
``tools/gen_scale_fixtures.generate``. Every workload also gets that
corpus directory, because the set-up warm-up query (the flagship query)
reads its ``events`` and ``nation`` tables.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import sys
import time
from dataclasses import dataclass
from datetime import datetime, timedelta

#: Scale factor of the generated corpus (sf0.01: 500 documents, 200
#: embeddings, 10k events, 60k lineitem rows).
CORPUS_SF = 0.01

LLM_QUERIES = (
    "llm_dedup_clusters",
    "llm_cluster_aware_split",
    "llm_train_quality_classifier",
    "llm_dsir_importance_topk",
    "emb_kmeans_train",
    "llm_dedup_incremental_near_probe",
    "llm_bpe_encode",
    "llm_dedup_ngram_jaccard",
    "llm_hybrid_rrf",
    "llm_perplexity_trigram_backoff",
)

WARMUP_QUERY = "flagship_events_windowed_enrichment"


@dataclass(frozen=True)
class StreamShape:
    """Size and disorder of the ``stream_consume`` input."""

    files: int = 6
    events_per_file: int = 2_000
    locations: int = 200
    #: per-file share of events placed 1-5 minutes behind the file's
    #: minute: out of order, but inside the 10-minute watermark
    out_of_order: float = 0.05
    #: late events per file (from the third file on), 20-29 minutes behind,
    #: so beyond the watermark; each in its own (window, location)
    late_per_file: int = 10
    #: per-file share of events the parser must reject
    malformed: float = 0.01


WORKLOAD_NAMES = ("stream_consume", "corpus_relational", "corpus_llm")


def corpus_queries(workload: str, all_names) -> list[str]:
    """The queries a corpus workload runs, in run order."""
    if workload == "corpus_relational":
        return sorted(n for n in all_names if n.startswith("tpch_"))
    if workload == "corpus_llm":
        return list(LLM_QUERIES)
    raise ValueError(f"{workload} is not a corpus workload")


def make_corpus(out_dir: str, seed: int, repo_root: str) -> dict:
    """Write the seeded sf0.01 corpus; returns its table row counts."""
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    from gen_scale_fixtures import generate

    import pyarrow.parquet as pq

    with contextlib.redirect_stdout(io.StringIO()):
        generate(CORPUS_SF, out_dir, seed=seed)
    rows = {
        name.removesuffix(".parquet"): pq.read_metadata(os.path.join(out_dir, name)).num_rows
        for name in sorted(os.listdir(out_dir))
        if name.endswith(".parquet")
    }
    return {"dir": out_dir, "table_rows": rows, "input_rows": sum(rows.values())}


def make_stream(out_dir: str, seed: int, shape: StreamShape = StreamShape()) -> dict:
    """Write the micro-batch files and dim CSV for ``stream_consume``.

    File ``i`` holds the events of minute ``i``, so event time advances
    one 1-minute window per file (one file per trigger). Every payload is
    unique (``total_cases`` is a running counter), so the check can strip
    the late events from a batch recomputation by payload.
    """
    rng = random.Random(seed)
    events_dir = os.path.join(out_dir, "events")
    os.makedirs(events_dir, exist_ok=True)
    locations = [f"LOC_{i:03d}" for i in range(shape.locations)]
    dim_path = os.path.join(out_dir, "dim.csv")
    with open(dim_path, "w") as f:
        f.write("location,population,continent\n")
        for loc in locations:
            continent = rng.choice(["Africa", "Asia", "Europe", "America", "Oceania"])
            f.write(f"{loc},{rng.randint(50_000, 50_000_000)},{continent}\n")

    t0 = datetime(2024, 3, 1)
    counter = 0
    late: list[str] = []
    malformed = 0
    # FileStreamSource takes files oldest-first by modification time.
    mtime0 = time.time() - shape.files
    for i in range(shape.files):
        minute = t0 + timedelta(minutes=i)
        n_late = shape.late_per_file if i >= 2 else 0
        late_locs = rng.sample(locations, n_late)
        lines = []
        for j in range(shape.events_per_file):
            counter += 1
            loc = rng.choice(locations)
            r = rng.random()
            if j < n_late:
                loc = late_locs[j]
                ts = minute - timedelta(minutes=rng.randint(20, 29), seconds=rng.uniform(0, 59))
            elif r < shape.malformed:
                malformed += 1
                lines.append(_malformed(rng, counter, minute, loc))
                continue
            elif r < shape.malformed + shape.out_of_order:
                ts = minute - timedelta(minutes=rng.randint(1, 4), seconds=rng.uniform(0, 59))
            else:
                ts = minute + timedelta(seconds=rng.uniform(0, 59.999))
            payload = json.dumps(
                {
                    "event_time": ts.isoformat(sep=" ", timespec="milliseconds"),
                    "location": loc,
                    "new_cases": rng.randint(0, 500),
                    "total_cases": counter,
                }
            )
            if j < n_late:
                late.append(payload)
            lines.append(payload)
        rng.shuffle(lines)
        path = os.path.join(events_dir, f"batch-{i:05d}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps({"value": v}) + "\n" for v in lines)
        os.utime(path, (mtime0 + i, mtime0 + i))
    return {
        "events_dir": events_dir,
        "dim": dim_path,
        "files": shape.files,
        "input_rows": counter,
        "late": late,
        "malformed": malformed,
    }


def _malformed(rng: random.Random, counter: int, minute: datetime, loc: str) -> str:
    """One payload ``parse_events`` must reject: not JSON, no location, or
    a non-integer ``new_cases``."""
    kind = rng.randrange(3)
    stamp = minute.isoformat(sep=" ")
    if kind == 0:
        return f'{{"event_time": "{stamp}", "location": "{loc}", #{counter}'
    if kind == 1:
        return json.dumps({"event_time": stamp, "new_cases": 1, "total_cases": counter})
    return json.dumps({"event_time": stamp, "location": loc, "new_cases": "many", "total_cases": counter})
