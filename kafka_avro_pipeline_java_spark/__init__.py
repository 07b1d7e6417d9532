"""kafka_avro_pipeline_java_spark — a PySpark-native analytics + streaming-ETL engine.

Re-expresses the capability surface of the reference repo
``dkwkehgud77/kafka-avro-pipeline-java`` (a Java Kafka→Avro→MySQL ETL
pipeline, see SURVEY.md) Spark-first, and extends it with the relational
query surface and large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) that a
100 TB deployment needs.

Layout
------
- ``sources``    parquet/Kafka table loading + the reference's schema
                 DSL → Avro → StructType translator
- ``functions``  column-expression helpers (vectors, text, hashing)
- ``operators``  composite DataFrame operators (dedup, similarity, as-of)
- ``plans``      the query catalog exposed through ``__spark_entry__``
- ``streaming``  Avro codec + Confluent framing, Kafka IO, exactly-once sink
"""

__version__ = "0.1.0"
