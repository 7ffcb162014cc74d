"""EngineConfig rejects what the apply path cannot run, at construction."""

import pytest

from etl_geo_dem_spark.config import EngineConfig


@pytest.mark.parametrize(
    "kwargs",
    [
        {"merge_mode": "MOR"},
        {"dedup_strategy": "bucket_sorted"},
        {"dedup_strategy": "salted_window"},
    ],
)
def test_unknown_mode_or_strategy_is_a_value_error(kwargs):
    with pytest.raises(ValueError, match=next(iter(kwargs.values()))):
        EngineConfig(**kwargs)


@pytest.mark.parametrize(
    "field",
    [
        "epoch_manifest_async",
        "n_buckets",
        "salt_buckets",
        "hot_key_threshold",
        "hot_key_sample",
    ],
)
def test_removed_field_is_a_type_error(field):
    with pytest.raises(TypeError, match=field):
        EngineConfig(**{field: 1})
