"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of the seed. Inputs and expectations
are cached per (workload, seed) under ``.perfbench_cache/`` at the root
of the checkout, outside the package tree, and are computed before any
timed section. Transcripts come from ``fixtures.make_transcripts``; the
expected sink contents from the sequential reference oracle
``OracleDB``; the expected datapipe results from the queries' DuckDB
``oracle_sql()`` texts over the same parquet files.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from check import span_key_hash, value_hash

# Input sizes. Each op on this code base is dominated by a fixed
# per-job cost at small inputs, so the sizes are chosen to keep a run
# (fresh JVM, three set-ups, the timed ops) inside the time budget.
BATCH_TURNS = 12_000
BATCH_FILES = 4            # one scan split per core
STREAM_FILE_TURNS = 500    # one micro-batch per file
STREAM_FILES = 24
TINY_TURNS = 400           # set-up warm-up input
CHECKPOINT_TURNS = 2_000   # traced checkpoint layer input
DP_DOCS = 600
DP_VECS = 300
DP_QUERIES = ("dp_minhash_lsh", "dp_ngram_jaccard", "dp_simhash_neardup",
              "dp_embedding_neardup_lsh", "dp_decontaminate")

_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])
SINKS = ("resources", "instrumentation_scopes", "metrics", "spans",
         "log_records", "metric_data_points", "rejects")
FACTS = ("spans", "log_records", "metric_data_points", "rejects")


def _write_parts(rows: list[dict], out_dir: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` contiguous parquet parts with
    strictly increasing modification times, so a file-source stream
    reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=_SCHEMA)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        path = f"{out_dir}/part-{i:05d}.parquet"
        pq.write_table(table.slice(i * step, step), path, compression="zstd")
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))


def _canonical(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))


def _expect(oracle, prev: dict | None = None) -> dict:
    """Sink counts, span-key hash and per-signal accounting of an
    oracle state; facts relative to ``prev`` when given."""
    counts = oracle.sink_counts()
    keys = [(r["conv_id"], r["turn_idx"], k[0], k[1]) for k, r in oracle.spans.items()]
    acc: dict[str, list[int]] = {}
    for r in oracle.accepted:
        acc.setdefault(r["signal_type"], [0, 0])[0] += 1
    for r in oracle.rejects:
        if r["signal_type"] is not None:
            acc.setdefault(r["signal_type"], [0, 0])[1] += 1
    out = {"counts": counts, "span_keys": keys, "accounting": acc}
    if prev is not None:
        seen = {tuple(k) for k in prev["span_keys"]}
        out["delta"] = {t: counts[t] - prev["counts"][t] for t in FACTS}
        out["delta_span_hash"] = span_key_hash(
            [k[2:] for k in keys if tuple(k) not in seen])
    return out


class Inputs:
    """Paths and expectations for one (workload, seed)."""

    def __init__(self, root: str, workload: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(root, ".perfbench_cache", f"{workload}-{seed}")
        self.work = os.path.join(root, ".perfbench_cache", f"work-{os.getpid()}")

    def prepare(self, parts: tuple[str, ...], pool) -> object:
        """Write (or reuse) the named input parts and start computing
        their expectations on ``pool``; returns a future of the merged
        expectations. Parts: ``tiny`` (set-up input), ``batch``,
        ``stream``, ``layers`` (checkpoint and datapipe inputs). The
        oracle runs while the JVM starts, so it costs a run no wall
        time."""
        todo = []
        for part in parts:
            meta = os.path.join(self.dir, f"{part}.json")
            if not os.path.exists(meta):
                shutil.rmtree(os.path.join(self.dir, part), ignore_errors=True)
                todo.append((meta, getattr(self, f"_make_{part}")()))

        def expectations() -> dict:
            for meta, expect in todo:
                with open(meta + ".tmp", "w") as f:
                    json.dump(expect(), f)
                os.replace(meta + ".tmp", meta)
            exp: dict = {}
            for part in parts:
                with open(os.path.join(self.dir, f"{part}.json")) as f:
                    exp.update(json.load(f))
            return exp

        return pool.submit(expectations)

    # Each _make_<part> writes the part's input files and returns a
    # function that computes its expectations.

    def _make_tiny(self):
        from sqlite_otel_spark.fixtures import make_transcripts

        _write_parts(make_transcripts(TINY_TURNS, seed=self.seed + 1), self.tiny, 2)
        return dict

    def _make_batch(self):
        from sqlite_otel_spark.fixtures import make_transcripts
        from sqlite_otel_spark.oracle import OracleDB

        rows = make_transcripts(BATCH_TURNS, seed=self.seed)
        _write_parts(rows, self.batch, BATCH_FILES)
        return lambda: {"batch": _strip(_expect(OracleDB().run(rows))),
                        "batch_turns": len(rows)}

    def _make_stream(self):
        from sqlite_otel_spark.fixtures import make_transcripts
        from sqlite_otel_spark.oracle import OracleDB

        rows = _canonical(make_transcripts(STREAM_FILE_TURNS * STREAM_FILES,
                                           seed=self.seed + 2))
        _write_parts(rows, self.stream, STREAM_FILES)

        def expect() -> dict:
            step = -(-len(rows) // STREAM_FILES)
            oracle = OracleDB()
            prev = {"counts": dict.fromkeys(FACTS, 0), "span_keys": []}
            per_file = []
            for i in range(STREAM_FILES):
                chunk = rows[i * step:(i + 1) * step]
                oracle.run(chunk)
                cur = _expect(oracle, prev)
                per_file.append({"delta": cur["delta"],
                                 "delta_span_hash": cur["delta_span_hash"],
                                 "dims": {t: cur["counts"][t] for t in SINKS[:3]},
                                 "keys": [[r["conv_id"], r["turn_idx"]] for r in chunk]})
                prev = cur
            return {"stream": per_file}
        return expect

    def _make_layers(self):
        from sqlite_otel_spark.fixtures import make_transcripts
        from sqlite_otel_spark.oracle import OracleDB

        rows = make_transcripts(CHECKPOINT_TURNS, seed=self.seed + 3)
        _write_parts(rows, self.checkpoint, BATCH_FILES)
        write_documents(self.dp, self.seed)
        return lambda: {"checkpoint": _strip(_expect(OracleDB().run(rows))),
                        "checkpoint_turns": len(rows),
                        "dp": datapipe_oracle(self.dp)}

    @property
    def batch(self) -> str:
        return os.path.join(self.dir, "batch")

    @property
    def tiny(self) -> str:
        return os.path.join(self.dir, "tiny")

    @property
    def stream(self) -> str:
        return os.path.join(self.dir, "stream")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.dir, "layers", "checkpoint")

    @property
    def dp(self) -> str:
        return os.path.join(self.dir, "layers", "dp")


def _strip(exp: dict) -> dict:
    """Replace the span-key list by its hash for whole-run checks."""
    return {"counts": exp["counts"], "accounting": exp["accounting"],
            "span_hash": span_key_hash([k[2:] for k in exp["span_keys"]])}


# ---------------------------------------------------------------------------
# Datapipe documents and embeddings
# ---------------------------------------------------------------------------

_VOCAB = ("batch part spark line column order small sort fast value scan a hash "
          "slow group agg filter query big key window row table stream merge data "
          "join shuffle cache plan stage task node disk read write index page log "
          "trace metric span event").split()


def write_documents(out_dir: str, seed: int) -> None:
    """``documents`` and ``embeddings`` tables shaped like the shared
    test tables: near-copies of earlier documents give the dedup queries
    real pairs, and clustered vectors give the embedding LSH real
    neighbours."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs = []
    for i in range(DP_DOCS):
        if i > 10 and rng.random() < 0.15:
            toks = docs[rng.randrange(len(docs))]["text"].split()
            for _ in range(rng.randint(0, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
        else:
            toks = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 80))]
        text = " ".join(toks)
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(["en", "de", "zh"]),
                     "source": f"src{rng.randrange(4)}", "n_chars": len(text)})
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])),
        f"{out_dir}/documents.parquet")

    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(12)]
    vecs = []
    for i in range(DP_VECS):
        c = rng.randrange(len(centers))
        v = [x + rng.gauss(0, 1.2) for x in centers[c]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": i, "embedding": [x / norm for x in v], "label": c})
    pq.write_table(pa.Table.from_pylist(vecs, schema=pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])),
        f"{out_dir}/embeddings.parquet")


def datapipe_oracle(dp_dir: str) -> dict:
    """Row count and value hash of each datapipe query's DuckDB oracle."""
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dp_dir}/{t}.parquet'")
        out = {}
        for name in DP_QUERIES:
            rel = con.sql(sql[name])
            rows = rel.fetchall()
            out[name] = {"rows": len(rows), "hash": value_hash(rows, rel.columns)}
        return out
    finally:
        con.close()
