"""One materialization primitive for the composed chains.

Composed operators (LSH banding, near-dup verification, label
propagation, curation, the approx budget) reference some intermediate
relations several times. As plain lineage every reference recomputes
the producer, and a ``persist`` keeps the producer's analyzed plan as
the cached relation's child, so every reference re-analyzes it on the
driver. :func:`stage` is the one way those operators materialize a
relation: it cuts the lineage, so consumers plan against a
constant-size leaf.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

STAGE_DIR_CONF = "spark.webextract.stageDir"


def stage(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize ``df`` as a stage table; return a frame with the same
    rows and columns whose lineage starts at the stage.

    The mode is set once per session by the conf
    ``spark.webextract.stageDir``:

    - unset: ``df.localCheckpoint(eager=eager)``. The blocks live on
      executors — losing one fails the job instead of recomputing the
      stage — and the ContextCleaner frees them once the returned frame
      is unreferenced. ``eager=True`` runs one job at call time.
      ``eager=False`` is not free: under AQE the call still runs the
      shuffle stages below the cut (a ``persist`` runs none), and the
      last stage runs with the first action that reads the result.
    - set to a directory: ``df`` is written as parquet at call time,
      whatever ``eager`` says, to a new ``<stageDir>/<uuid>``
      subdirectory, and read back (every column nullable). A fresh
      directory per call means an iterating caller never overwrites a
      table a live frame still reads. Nothing here deletes stage
      tables: the directory belongs to the run, which removes it once
      its outputs are committed.

    With ``eager=True``, ``observe()`` metrics attached to ``df`` arrive
    with the call in both modes (on the checkpoint job or the write).
    """
    spark = df.sparkSession
    root = spark.conf.get(STAGE_DIR_CONF, None)
    if not root:
        return df.localCheckpoint(eager=eager)
    path = f"{root.rstrip('/')}/{uuid.uuid4().hex}"
    df.write.parquet(path)
    return spark.read.schema(df.schema).parquet(path)
