"""PySpark-native analytics engine with the query and data-processing
capabilities of awslabs/aws-trusted-advisor-explorer (reference at
/root/reference, v1.0.1).

The reference is a Lambda/Step-Functions batch ETL that lands AWS Trusted
Advisor cost-optimization data as date-partitioned CSV and publishes 10
Athena SQL views. This package re-expresses that surface Spark-first:

- ``sources/``    ingestion adapters (API-shaped JSON, accounts CSV, ...)
- ``operators/``  extract-plane row transforms (SURVEY.md P1-P12) and the
                  training-data extension operators (dedup, similarity,
                  text analysis, multimodal)
- ``functions/``  Presto->Spark scalar-function compatibility shims
- ``plans/``      the 10 view definitions + deterministic fixture layer
- ``sinks/``      partitioned writers
"""

__version__ = "0.1.0"
