"""Typed transform expressions (CMS sentinel semantics): each takes a
column name and returns a Column parsed from SQL text."""

from kingsfoil_seed_data_ingestor_spark.functions.transforms import (  # noqa: F401
    clean_code,
    fee_formula,
    mac_locality,
    parse_boolean,
    parse_date,
    parse_deletion_date,
    parse_integer,
    parse_mai_id,
    parse_modifier_indicator,
    parse_mue_value,
    parse_numeric,
    parse_prior_1996_flag,
    parse_text,
    strip_ws,
    transform_value,
)
