"""The index-kind table (indexes/__init__.py): each kind's module
restores the config an index was built from out of its logged
properties, and the lifecycle in hyperspace.py dispatches through the
table instead of switching on ``derived_kind``."""

import ast
import inspect
import textwrap

import pytest

from hyperspace_spark import (
    CoveringIndexConfig,
    DataSkippingIndexConfig,
    Hyperspace,
    InvertedTextIndexConfig,
    IvfIndexConfig,
    MinMaxSketch,
    RowCountSketch,
    ZOrderCoveringIndexConfig,
)
from hyperspace_spark.indexes import KINDS

CONFIGS = {
    "CI": (
        lambda: CoveringIndexConfig("kt_ci", ["k"], ["v"], num_buckets=3),
        ["indexed_columns", "included_columns", "num_buckets"],
    ),
    "ZCI": (
        lambda: ZOrderCoveringIndexConfig(
            "kt_zci", ["k", "v"], ["text"], target_bytes_per_partition=1 << 20
        ),
        ["indexed_columns", "included_columns", "target_bytes_per_partition"],
    ),
    "DS": (
        lambda: DataSkippingIndexConfig("kt_ds", [MinMaxSketch(["k"]), RowCountSketch()]),
        [],
    ),
    "ANN": (
        lambda: IvfIndexConfig("kt_ann", vec_col="emb", id_col="k", n_clusters=2, pq_m=2),
        ["vec_col", "id_col", "n_clusters", "pq_m"],
    ),
    "TXT": (
        lambda: InvertedTextIndexConfig("kt_txt", text_col="text", id_col="k", num_buckets=3),
        ["text_col", "id_col", "num_buckets"],
    ),
}


@pytest.fixture(scope="module")
def tiny_src(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kinds_src"))
    spark.range(0, 24).selectExpr(
        "id AS k",
        "id * 10 AS v",
        "concat('doc ', CAST(id % 5 AS STRING)) AS text",
        "array(CAST(id AS DOUBLE), 1.0D, CAST(id % 3 AS DOUBLE), 2.0D) AS emb",
    ).coalesce(2).write.mode("overwrite").parquet(d)
    return d


def test_kind_table_lists_the_five_kinds():
    assert sorted(KINDS) == ["ANN", "CI", "DS", "TXT", "ZCI"]
    assert [k for k, m in KINDS.items() if m.CAN_HANDLE_DELETED_FILES] == ["DS"]


@pytest.mark.parametrize("kind", sorted(CONFIGS))
def test_config_round_trips_through_properties(spark, tiny_src, tmp_path, kind):
    make, fields = CONFIGS[kind]
    built = make()
    assert built.kind == kind
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(tiny_src), make())
    entry = hs._log_mgr(built.name, hs.conf()).get_latest_stable_log()
    assert entry.derived_kind == kind
    got = KINDS[kind].config_from_properties(entry.name, entry.derived_properties)
    assert got.kind == kind and got.name == built.name
    assert got.referenced_columns() == built.referenced_columns()
    for f in fields:
        assert getattr(got, f) == getattr(built, f), f
    if kind == "DS":
        assert [s.to_json() for s in got.sketches] == [s.to_json() for s in built.sketches]


def _derived_kind_comparisons(fn) -> list[str]:
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    return [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Compare)
        and any(
            isinstance(n, ast.Attribute) and n.attr == "derived_kind"
            for side in [node.left, *node.comparators]
            for n in ast.walk(side)
        )
    ]


def test_lifecycle_has_no_kind_switches():
    from hyperspace_spark.hyperspace import Hyperspace as H
    from hyperspace_spark.planner import candidates

    for fn in (H.create_index, H._refresh_full, H._refresh_incremental, H.optimize_index):
        fn = inspect.unwrap(fn)
        assert _derived_kind_comparisons(fn) == [], fn.__name__
    assert _derived_kind_comparisons(candidates) == []
