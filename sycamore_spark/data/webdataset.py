"""WebDataset-style tar shard export/import.

The de-facto interchange format for multimodal training data (image/text
pairs streamed by PyTorch dataloaders) is a directory of tar files whose
members are grouped by a sample key: ``{key}.txt``, ``{key}.jpg``,
``{key}.json`` … consecutive in the archive so a reader streams samples
sequentially with no index. (Public spec: the webdataset project's tar
conventions; no external library is needed — stdlib ``tarfile`` writes
and reads it.)

Spark-first shape:
- **write**: one ``applyInPandas`` group per shard id — each task streams
  its rows (ordered by key for deterministic archives) into ONE tar via
  stdlib tarfile, so N shards = N parallel writer tasks and no driver
  involvement; the returned manifest (shard path, samples, bytes) is the
  only small result. Pair with ``operators.sampling.pack_shards`` /
  ``corpus_shuffle`` to choose shard ids upstream.
- **read**: ``binaryFile`` scan of ``*.tar`` + one ``mapInPandas`` that
  unpacks members and regroups by sample key — shards are the unit of
  read parallelism exactly as dataloaders consume them.

Tar metadata (mtime/uid/gid) is zeroed so archives are byte-deterministic
for a given (key, payload) set — the roundtrip gate hashes CONTENT, and
reproducible shards also make downstream caching/diffing sane.
"""

from __future__ import annotations

import io
import tarfile

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions.partitioning import lineage_cut


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    columns: dict[str, str],
    shard_col: str = "shard_id",
    key_col: str = "doc_id",
) -> DataFrame:
    """Write one ``{out_dir}/shard-{id}.tar`` per distinct ``shard_col``
    value. ``columns`` maps DataFrame column -> member extension (e.g.
    ``{"text": "txt", "image": "jpg"}``); string columns are UTF-8
    encoded, binary columns written as-is, others JSON-ish via ``str``.
    Returns the manifest DataFrame (shard, path, n_samples, n_bytes) —
    an action has already materialized the files when it returns.

    FILESYSTEM CONTRACT: writer tasks resolve ``out_dir`` with
    ``pyarrow.fs.FileSystem.from_uri`` (pyarrow ships on every executor
    with Arrow-enabled Spark), so plain paths, ``file://``, ``hdfs://``
    and ``s3://`` URIs all work from distributed executors — each task
    builds its shard's tar in memory (shards are bounded by the upstream
    pack budget by construction) and streams it out in one write, which
    is also the object-store-friendly access pattern (single PUT, no
    seeks). Scheme-specific credentials follow pyarrow's usual
    environment/config discovery.

    KEY CONTRACT (WebDataset convention): the sample key is everything up
    to the FIRST dot of a member name, so keys must not contain ``.`` —
    enforced with a per-shard ValueError (a dotted key would silently
    split wrong on any conforming reader, including ``read_webdataset``).
    Multi-part extensions (``seg.png``) are fine."""
    from pyarrow import fs as pafs

    # resolve once on the driver to fail fast on bad URIs/schemes, and to
    # create the output directory where the FS supports directories
    drv_fs, drv_path = pafs.FileSystem.from_uri(out_dir)
    drv_fs.create_dir(drv_path, recursive=True)
    cols = dict(columns)
    key = key_col

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        fs, root = pafs.FileSystem.from_uri(out_dir)
        shard = str(pdf[shard_col].iloc[0])
        path = f"{root.rstrip('/')}/shard-{shard}.tar"
        dotted = pdf[key].astype(str).str.contains(".", regex=False)
        if dotted.any():
            bad = pdf.loc[dotted, key].iloc[0]
            raise ValueError(
                f"WebDataset sample keys must not contain '.' (key={bad!r}): "
                "readers split key from extension at the first dot"
            )
        pdf = pdf.sort_values(key, kind="mergesort")
        n_bytes = 0
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for _, row in pdf.iterrows():
                for col, ext in cols.items():
                    v = row[col]
                    if v is None:
                        continue
                    payload = (
                        v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
                    )
                    info = tarfile.TarInfo(name=f"{row[key]}.{ext}")
                    info.size = len(payload)
                    info.mtime = 0  # deterministic archives
                    tar.addfile(info, io.BytesIO(bytes(payload)))
                    n_bytes += len(payload)
        with fs.open_output_stream(path) as out:
            out.write(buf.getvalue())
        return pd.DataFrame(
            [{"shard": shard, "path": path, "n_samples": len(pdf), "n_bytes": n_bytes}]
        )

    manifest = (
        df.select(shard_col, key, *cols.keys())
        .groupBy(shard_col)
        .applyInPandas(_write, schema="shard string, path string, n_samples long, n_bytes long")
    )
    # materialize: the write happens inside the tasks
    manifest = lineage_cut(manifest)
    return manifest


def read_webdataset(spark, path_glob: str) -> DataFrame:
    """Read tar shards back into (shard, key, ext, content binary) rows —
    one Arrow stage over a binaryFile scan; each shard unpacks in one
    task. Pivot by ext downstream to reassemble sample columns.

    Member names split key/extension at the FIRST dot (the WebDataset
    grouping convention), so multi-part extensions like ``seg.png`` group
    under the same key as their siblings — matching externally produced
    shards, not just this module's writer."""
    tars = spark.read.format("binaryFile").load(path_glob)

    def _unpack(it):
        for pdf in it:
            out = []
            for _, row in pdf.iterrows():
                with tarfile.open(fileobj=io.BytesIO(row["content"])) as tar:
                    for m in tar.getmembers():
                        if not m.isfile():
                            continue
                        key, _, ext = m.name.partition(".")
                        out.append(
                            {
                                "shard_path": row["path"],
                                "key": key,
                                "ext": ext,
                                "content": tar.extractfile(m).read(),
                            }
                        )
            if out:
                yield pd.DataFrame(out)

    return tars.select("path", "content").mapInPandas(
        _unpack, schema="shard_path string, key string, ext string, content binary"
    )
