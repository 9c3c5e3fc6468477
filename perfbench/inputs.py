"""Seeded benchmark inputs, cached as parquet.

Each (workload, seed, size) gets one directory under
``.perfbench/inputs/`` in the checkout. It holds the tables the
workload reads, one parquet directory each. The program under test only
ever reads these tables; the ``truth`` tables are read by the
benchmark's own checks.

Inputs are built in this process without Spark (pandas + pyarrow), so
building them needs no second JVM. The benchmark's ``setup_s`` clock
starts after this step, so it does not depend on whether the cache was
warm. Every run builds the tables fresh in memory and checks that the
cached copy matches that fresh build (row count + content hash).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import host

# Input sizes: pages for er_pages, entities for link_em.
SIZES = {"er_pages": 3_000, "link_em": 3_000}
# Two, not four: each drain costs 14-16 s of mostly fixed cost, and
# with four the traced er_pages run took up to 122 s of its 180 s limit.
STREAM_CHUNKS = 2
# entities per len: block, as in 40k entities over 2,000 buckets: enough
# false candidates per block that EM's prior sits near the real one
LINK_ENTITIES_PER_LEN = 20
LANGS = ("en", "fr", "es", "zh", "de")
SOURCES = ("crawl", "feed", "api", "manual")


def _h(*parts: object) -> int:
    """Deterministic 64-bit hash of the parts."""
    m = hashlib.blake2b(digest_size=8)
    for p in parts:
        m.update(repr(p).encode())
        m.update(b"\x00")
    return struct.unpack("<Q", m.digest())[0]


def build_er_pages(seed: int) -> dict[str, pa.Table]:
    """The rows ``corpus.generate_pages(spark, n, seed)`` produces (its
    per-row function, called directly), plus the same pages split by a
    hash of the url into STREAM_CHUNKS arrival chunks for the streaming
    drains."""
    import pandas as pd

    from dedupe_spark.corpus import _row

    df = pd.DataFrame([_row(i, seed) for i in range(SIZES["er_pages"])])
    # Spark reads the generator's naive timestamps in the UTC session zone
    df["warc_ts"] = df["warc_ts"].dt.tz_localize("UTC")
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("truth_key", pa.string()),
    ])
    t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pages = t.drop_columns(["truth_key"])
    chunk = pa.array([_h(seed, "chunk", u) % STREAM_CHUNKS for u in df["url"]])
    out = {"pages": pages, "truth": t.select(["url", "truth_key"])}
    for i in range(STREAM_CHUNKS):
        out[f"chunk{i}"] = pages.filter(pc.equal(chunk, i))
    return out


def build_link_em(seed: int) -> dict[str, pa.Table]:
    """Planted entities with 1-3 records each, one row per record.

    Compare columns: ``lang`` (the entity's language, replaced by a
    random one on 15% of records), ``source`` (the entity's source),
    ``lenb`` (entity mod size/LINK_ENTITIES_PER_LEN, so a ``len:`` block
    mixes entities), ``fpx`` (per-entity fingerprint) and a constant
    column."""
    n = SIZES["link_em"]
    cols: dict[str, list] = {k: [] for k in ("doc_id", "lang", "source", "lenb", "fpx", "const")}
    entity = []
    for e in range(n):
        for r in range(1 + _h(seed, "n", e) % 3):
            entity.append(e)
            cols["doc_id"].append(_h(seed, "id", e, r) >> 1)
            noisy = _h(seed, "noise", e, r) % 100 < 15
            lang = _h(seed, "nl", e, r) if noisy else _h(seed, "lang", e)
            cols["lang"].append(LANGS[lang % len(LANGS)])
            cols["source"].append(SOURCES[_h(seed, "src", e) % len(SOURCES)])
            cols["lenb"].append(e % (n // LINK_ENTITIES_PER_LEN))
            cols["fpx"].append(f"{_h(seed, 'fp', e):016x}")
            cols["const"].append("x")
    return {
        "records": pa.table(cols),
        "truth": pa.table({"doc_id": cols["doc_id"], "entity": entity}),
    }


BUILDERS = {"er_pages": build_er_pages, "link_em": build_link_em}


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(
        root, ".perfbench", "inputs", f"{workload}-s{seed}-n{SIZES[workload]}"
    )


def digest(table: pa.Table) -> dict:
    """Row count + sha256 of the table's rows ordered by its first
    column, a unique key (independent of how the rows are split into
    files)."""
    table = table.sort_by(table.column_names[0]).combine_chunks()
    table = table.select(sorted(table.column_names))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return {
        "rows": table.num_rows,
        "sha256": hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest(),
    }


def _write(tables: dict[str, pa.Table], out: str) -> None:
    for name, t in tables.items():
        d = os.path.join(out, name)
        os.makedirs(d)
        # the main tables get one file per core, as generate_pages'
        # spark.range partitions would; chunks and truth stay small
        n = host.nproc() if name in ("pages", "records") else 2 if name.startswith("chunk") else 1
        size = max(1, -(-t.num_rows // n))
        for i, start in enumerate(range(0, max(t.num_rows, 1), size)):
            pq.write_table(t.slice(start, size), os.path.join(d, f"part-{i:05d}.parquet"))


def ensure(root: str, workload: str, seed: int) -> tuple[str, dict[str, int]]:
    """Return the cached input dir, writing it on a miss, and the row
    count of each table. Every cached table must match a fresh build."""
    tables = BUILDERS[workload](seed)
    fresh = {name: digest(t) for name, t in tables.items()}
    d = cache_dir(root, workload, seed)
    if not os.path.isdir(d):
        # written whole under another name, then renamed into place
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _write(tables, tmp)
        os.replace(tmp, d)
    cached = {name: digest(pq.read_table(os.path.join(d, name))) for name in fresh}
    if cached != fresh:
        raise RuntimeError(f"inputs in {d} differ from a fresh build: cached={cached} fresh={fresh}")
    return d, {name: t.num_rows for name, t in tables.items()}
