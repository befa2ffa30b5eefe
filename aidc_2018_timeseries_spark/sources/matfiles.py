"""S4: MATLAB ``.mat`` music ingest (reference ``datasets/music.py:30-35``
loads JSB_Chorales.mat with ``scipy.io.loadmat`` on the driver and
iterates the per-split cell arrays of (T, 88) piano rolls).

Spark-first shape: the .mat container is a DRIVER-side format (small —
one file of song matrices, not the 100 TB fact data), so the shim decodes
it once and hands Spark a long-format DataFrame; everything downstream
(pad/truncate, teacher forcing — pipelines/music.py) is distributed. At
scale you run this shim once per corpus file and land parquet, then read
the parquet (sources/tables.py) — the decode is a one-off ingest, never
per-query work.

scipy is not part of this engine's base environment, so the import is
guarded: without scipy the function raises ``NotImplementedError`` with
the pre-conversion instruction; the parquet path in pipelines/music.py is
unaffected. (Same declared-stub pattern as the multimodal decode kernels,
operators/multimodal.py.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from aidc_2018_timeseries_spark.sources.tables import local_frame


def read_mat_music(
    spark: SparkSession,
    path: str,
    var_names: Sequence[str] = ("traindata", "validdata", "testdata"),
    n_keys: int = 88,
) -> DataFrame:
    """Decode a piano-roll ``.mat`` file into long format.

    Each ``var_names`` entry is a cell array of (T_i, n_keys) 0/1 matrices
    (one per song). Output: (split string, song_id, t, keys array<double>)
    — the input shape ``pipelines/music.py:music_dataset`` expects (group
    by (split, song_id), order by t).
    """
    try:
        from scipy.io import loadmat
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "scipy is not available in this environment; pre-convert the "
            ".mat to parquet (split, song_id, t, keys) and load it via "
            "sources/tables.py instead (see pipelines/music.py)"
        ) from exc

    import numpy as np

    mat = loadmat(path, squeeze_me=True)
    rows: list[tuple[str, int, int, list[float]]] = []
    for split in var_names:
        if split not in mat:
            continue
        cells = mat[split]
        # squeeze_me collapses a 1-song cell array to a bare matrix
        if isinstance(cells, np.ndarray) and cells.dtype != object:
            cells = [cells]
        for song_id, roll in enumerate(cells):
            arr = np.atleast_2d(np.asarray(roll, dtype=float))
            if arr.shape[1] != n_keys:
                raise ValueError(
                    f"{split}[{song_id}]: expected {n_keys} keys, got {arr.shape[1]}"
                )
            for t, keys in enumerate(arr):
                rows.append((split, song_id, t, [float(k) for k in keys]))
    return local_frame(
        spark, rows, "split string, song_id bigint, t bigint, keys array<double>"
    )
