"""One-time format converter: HDF5-Loom → Parquet (reference scan surface
S5: R/reference.R:78 ``LoomExperiment::import`` of .loom single-cell
matrices). The reference's ``readRDS`` blobs (S6, R/reference.R:38) have no
converter here: export them from R upstream, to parquet
(``arrow::write_parquet``) or to .loom.

Policy (SURVEY §2.1): formats with no Spark reader are converted ONCE,
upstream of the engine, never at query time. This module is that converter.
The parquet-side output contract is fixed and tested independently of the
source libraries, so the engine's loaders work the moment a conversion
lands, regardless of which tool produced it:

- ``<out>/matrix.parquet``    — long/COO form: (cell_id BIGINT, gene_id
  BIGINT, value DOUBLE), one row per non-zero entry. Long form is the
  distributable representation: partitionable by cell ranges, groupBy-able
  either way, no 20k-wide rows.
- ``<out>/cells.parquet``     — (cell_id BIGINT, <one column per col_attr>)
- ``<out>/genes.parquet``     — (gene_id BIGINT, <one column per row_attr>)

The HDF5 reader (h5py) is optional; when absent, the converter raises
``ConverterUnavailable`` with the exact offline command to run instead.
Conversion is CHUNKED (column blocks of the HDF5 matrix → parquet row
groups) so a 100 GB .loom never materializes densely.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MATRIX_COLUMNS = ("cell_id", "gene_id", "value")


class ConverterUnavailable(RuntimeError):
    """Raised when the optional source-format library is not installed."""


def matrix_contract_schema():
    """The fixed arrow schema of ``matrix.parquet`` — single source of
    truth shared by every writer of the contract (the h5py block streamer
    and any in-memory producer), so a contract drift is impossible."""
    import pyarrow as pa

    return pa.schema(
        [("cell_id", pa.int64()), ("gene_id", pa.int64()), ("value", pa.float64())]
    )


def open_matrix_writer(out_dir: str):
    """Open the contract ParquetWriter for ``<out_dir>/matrix.parquet``.
    Callers append COO chunks with ``w.write_table(pa.table({...},
    schema=matrix_contract_schema()))`` — the same incremental row-group
    path ``loom_to_parquet`` streams HDF5 blocks through."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    return pq.ParquetWriter(os.path.join(out_dir, "matrix.parquet"), matrix_contract_schema())


def loom_to_parquet(loom_path: str, out_dir: str, chunk_cols: int = 2048) -> dict:
    """Convert a .loom file (HDF5: /matrix genes×cells, /row_attrs,
    /col_attrs — the layout LoomExperiment::import reads at
    R/reference.R:78) to the engine's parquet contract.

    Streams the matrix in ``chunk_cols``-wide column blocks: each block is
    densified, sparsified to COO, and appended as a parquet row group —
    peak memory is O(genes × chunk_cols), never the full matrix.

    Returns {"cells": n, "genes": n, "nnz": n}.
    """
    try:
        import h5py  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ConverterUnavailable(
            "h5py is not installed in this environment. Convert offline with:\n"
            "  python -c \"from utils_spark.converters import loom_to_parquet; "
            f"loom_to_parquet({loom_path!r}, {out_dir!r})\"\n"
            "on a host with h5py, then point the engine at the parquet output."
        ) from e

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    with h5py.File(loom_path, "r") as f:
        mat = f["/matrix"]  # loom convention: genes (rows) × cells (cols)
        n_genes, n_cells = mat.shape
        schema = matrix_contract_schema()
        nnz = 0
        with open_matrix_writer(out_dir) as w:
            for start in range(0, n_cells, chunk_cols):
                block = np.asarray(mat[:, start : start + chunk_cols], dtype=float)
                g_idx, c_idx = np.nonzero(block)
                nnz += len(g_idx)
                w.write_table(
                    pa.table(
                        {
                            "cell_id": (c_idx + start).astype("int64"),
                            "gene_id": g_idx.astype("int64"),
                            "value": block[g_idx, c_idx],
                        },
                        schema=schema,
                    )
                )

        def attrs_table(group, id_name, n):
            cols = {id_name: np.arange(n, dtype="int64")}
            for k in group:
                v = np.asarray(group[k])
                if v.ndim == 1 and len(v) == n:
                    cols[k] = [x.decode() if isinstance(x, bytes) else x for x in v]
            return pa.table(cols)

        pq.write_table(attrs_table(f["/col_attrs"], "cell_id", n_cells),
                       os.path.join(out_dir, "cells.parquet"))
        pq.write_table(attrs_table(f["/row_attrs"], "gene_id", n_genes),
                       os.path.join(out_dir, "genes.parquet"))
    return {"cells": n_cells, "genes": n_genes, "nnz": nnz}


def load_matrix_tables(spark: SparkSession, converted_dir: str) -> dict[str, DataFrame]:
    """Load a converted Loom directory and VALIDATE the output contract
    (the part of the pipeline that must hold no matter which tool wrote
    the parquet). Returns {"matrix", "cells", "genes"} DataFrames."""
    out = {}
    for name in ("matrix", "cells", "genes"):
        out[name] = spark.read.parquet(os.path.join(converted_dir, f"{name}.parquet"))
    mt = dict(out["matrix"].dtypes)
    if tuple(sorted(mt)) != tuple(sorted(MATRIX_COLUMNS)):
        raise ValueError(f"matrix.parquet columns {sorted(mt)} != {sorted(MATRIX_COLUMNS)}")
    if mt["cell_id"] != "bigint" or mt["gene_id"] != "bigint" or mt["value"] != "double":
        raise ValueError(f"matrix.parquet dtypes off-contract: {mt}")
    for side, key in (("cells", "cell_id"), ("genes", "gene_id")):
        if dict(out[side].dtypes).get(key) != "bigint":
            raise ValueError(f"{side}.parquet must carry BIGINT {key}")
    return out


def pseudobulk_from_matrix(tables: dict[str, DataFrame], label_col: str) -> DataFrame:
    """The reference's first post-load step (pseudobulk per label —
    R/wrapper.R:178-216): sum matrix values per (label, gene). One shuffle
    on the small (label, gene) key space; the broadcast join ships only the
    cell→label map."""
    cells = tables["cells"].select("cell_id", label_col)
    return (
        tables["matrix"]
        .join(F.broadcast(cells), "cell_id")
        .groupBy(label_col, "gene_id")
        .agg(F.sum("value").alias("total"), F.count("*").alias("n_cells_expressing"))
    )
