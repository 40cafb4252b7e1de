from noaa_oracle_spark.operators.asof import asof_join
from noaa_oracle_spark.operators.rangejoin import binned_range_join
from noaa_oracle_spark.operators.skew import salted_join
from noaa_oracle_spark.operators.windows import carry_forward, with_lead

__all__ = [
    "asof_join",
    "binned_range_join",
    "carry_forward",
    "salted_join",
    "with_lead",
]
