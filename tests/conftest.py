import sys
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _parse_datatype_string

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from louvain_spark.plans import gate  # noqa: E402
from louvain_spark.session import get_spark  # noqa: E402

_ONE_BLOCK_DEFAULT = gate.ONE_BLOCK_MAX_EDGES
_LOUVAIN_ONE_TASK_DEFAULT = gate.LOUVAIN_ONE_TASK_MAX_EDGES


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "louvain_spark-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.default.parallelism": "8",
        },
    )
    yield s


def local_df(spark, rows, schema: str):
    """spark.createDataFrame(rows, schema), shipped to the JVM as one
    Arrow table. The plain list form builds a Python RDD, which every
    action over the frame re-reads through the Python workers (~0.7 s per
    action at local[4]); rows and schema are the same either way."""
    struct = _parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [() for _ in struct.fields]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=to_arrow_type(f.dataType)) for c, f in zip(cols, struct.fields)],
        names=struct.names,
    )
    return spark.createDataFrame(table, schema=struct)


def vertices_df(spark, n: int):
    """(id long) rows 0..n-1."""
    return local_df(spark, [(i,) for i in range(n)], "id long")


def edges_df(spark, triples, weighted=True):
    """Build a canonical edge DataFrame from (u, v[, w]) tuples."""
    rows = []
    for t in triples:
        u, v = int(t[0]), int(t[1])
        w = float(t[2]) if weighted and len(t) > 2 else 1.0
        a, b = (u, v) if u <= v else (v, u)
        rows.append((a, b, w))
    return local_df(spark, rows, "src long, dst long, weight double")


def _persistent_rdds(spark, local_checkpoint: bool) -> set[int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(i) for i in rdds.keySet()
        if rdds[i].rdd().getCreationSite().startswith("localCheckpoint")
        == local_checkpoint
    }


def cached_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs, except localCheckpoint ones: those are
    snapshots, which unpersist() does not free (plans/loop.release does;
    otherwise they go when the JVM garbage-collects them)."""
    return _persistent_rdds(spark, False)


def local_checkpoints(spark) -> set[int]:
    """Ids of the persisted localCheckpoint RDDs (see cached_rdds)."""
    return _persistent_rdds(spark, True)


def use_gate_side(monkeypatch, side: str) -> None:
    """Run PageRank, LPA, CC, windowed co-occurrence induction and the
    daily→all-time migration on one side of gate.ONE_BLOCK_MAX_EDGES, and
    Louvain's parallel levels on one side of
    gate.LOUVAIN_ONE_TASK_MAX_EDGES: "one_block" keeps the default gates,
    "distributed" sets both to 0."""
    assert side in ("one_block", "distributed"), side
    one = side == "one_block"
    monkeypatch.setattr(gate, "ONE_BLOCK_MAX_EDGES", _ONE_BLOCK_DEFAULT if one else 0)
    monkeypatch.setattr(
        gate, "LOUVAIN_ONE_TASK_MAX_EDGES", _LOUVAIN_ONE_TASK_DEFAULT if one else 0
    )


@pytest.fixture
def gate_side(request, monkeypatch):
    """The gate side a test runs on; parametrize it indirectly, most
    simply through on_both_sides."""
    use_gate_side(monkeypatch, request.param)
    return request.param


def on_both_sides(values):
    """Params (value, gate side) for `@pytest.mark.parametrize("x,gate_side",
    ..., indirect=["gate_side"])`: each value on the default gate under its
    plain id, then on the distributed side as "<id>-distributed"."""
    return [pytest.param(v, "one_block", id=str(v)) for v in values] + [
        pytest.param(v, "distributed", id=f"{v}-distributed") for v in values
    ]
