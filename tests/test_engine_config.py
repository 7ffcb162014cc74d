"""EngineConfig rejects what the apply path cannot run, at construction."""

import pytest

from etl_geo_dem_spark.config import EngineConfig


@pytest.mark.parametrize(
    "kwargs", [{"merge_mode": "MOR"}, {"dedup_strategy": "bucket_sorted"}]
)
def test_unknown_mode_or_strategy_is_a_value_error(kwargs):
    with pytest.raises(ValueError, match=next(iter(kwargs.values()))):
        EngineConfig(**kwargs)


def test_removed_field_is_a_type_error():
    with pytest.raises(TypeError):
        EngineConfig(epoch_manifest_async=True)
