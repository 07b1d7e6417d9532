"""Infra setup-plan tests (reference 01-infra flow, driver-side)."""

from kafka_avro_pipeline_java_spark.sources.infra import build_setup_plan

DSL = [
    {"name": "dataset1", "fields": {"key_field1": "string", "timestamp_field1": "long",
                                    "double_field1": "double", "string_field1": "string"}},
    {"name": "dataset2", "fields": {"key_field2": "string", "timestamp_field2": "long",
                                    "string_field2": "string", "integer_field2": "integer"}},
    {"name": "dataset3", "fields": {"key_field3": "string", "timestamp_field3": "long",
                                    "string_field3": "string", "long_field3": "long"}},
]


def test_setup_plan_shape():
    plan = build_setup_plan(DSL)
    assert plan["topics"] == ["dataset1", "dataset2", "dataset3"]
    assert len(plan["avro_schemas"]) == 3
    # DDL script: drop/create/use database + offsets table + 3 tables
    assert plan["ddl"][0] == "DROP DATABASE IF EXISTS bank"
    assert plan["ddl"][1] == "CREATE DATABASE bank"
    assert "kafka_offsets" in plan["ddl"][3]
    assert plan["ddl"][4].startswith("CREATE TABLE dataset1 (")
    assert "integer_field2 INT" in plan["ddl"][5]
    assert "long_field3 BIGINT" in plan["ddl"][6]
