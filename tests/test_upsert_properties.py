"""Property-based tests for the keep-first upsert (SURVEY.md §5.3):
idempotence, existing-wins, and the row-count algebra
rows_after = rows_before + |new keys not seen|, over randomized
key/batch structures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_ingestion_project_spark.operators.upsert import upsert_keep_first

keys_strategy = st.lists(
    st.integers(min_value=0, max_value=30), min_size=0, max_size=25
)


def _df(spark, ids: list[int], tag: str):
    rows = [(f"k{k}", f"{tag}-{k}") for k in ids]
    return spark.createDataFrame(rows, "uuid string, payload string") if rows else spark.createDataFrame(
        [], "uuid string, payload string"
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(existing_ids=keys_strategy, new_ids=keys_strategy)
def test_upsert_algebra(spark, existing_ids, new_ids):
    existing = _df(spark, sorted(set(existing_ids)), "old")
    new = _df(spark, sorted(set(new_ids)), "new")

    merged = upsert_keep_first(existing, new, "uuid")
    got = {r["uuid"]: r["payload"] for r in merged.collect()}

    exist_set = {f"k{k}" for k in existing_ids}
    new_set = {f"k{k}" for k in new_ids}

    # row-count algebra
    assert len(got) == len(exist_set | new_set)
    # existing wins on every collision
    for k in exist_set:
        assert got[k].startswith("old-")
    # new keys inserted
    for k in new_set - exist_set:
        assert got[k].startswith("new-")

    # idempotence: re-applying the same batch changes nothing
    again = {
        r["uuid"]: r["payload"] for r in upsert_keep_first(merged, new, "uuid").collect()
    }
    assert again == got


def test_file_bound_compacts_and_keeps_first(spark, tmp_path, monkeypatch):
    """Each batch appends one file; the publish that takes the table past
    MAX_TABLE_FILES compacts it, keeping every row, the first payload of
    every key and the returned row count."""
    import os

    from data_ingestion_project_spark.operators import upsert

    monkeypatch.setattr(upsert, "MAX_TABLE_FILES", 3)
    path = str(tmp_path / "t.parquet")

    def data_files() -> int:
        return sum(n.endswith(".parquet") and not n.startswith(".") for n in os.listdir(path))

    batches = [[0, 1, 2], [2, 3], [3, 4, 5], [0, 6], [7]]
    seen = []
    for b, ids in enumerate(batches):
        _, rows = upsert.upsert_parquet_table(spark, _df(spark, ids, f"b{b}"), path, "uuid")
        seen.append((rows, data_files()))

    # batch 3 takes the table to 4 files > 3: compacted into one
    assert seen == [(3, 1), (4, 2), (6, 3), (7, 1), (8, 2)]
    got = {r["uuid"]: r["payload"] for r in spark.read.parquet(path).collect()}
    first = {0: "b0", 1: "b0", 2: "b0", 3: "b1", 4: "b2", 5: "b2", 6: "b3", 7: "b4"}
    assert got == {f"k{k}": f"{b}-{k}" for k, b in first.items()}
    assert [n for n in os.listdir(tmp_path) if "__" in n] == []
