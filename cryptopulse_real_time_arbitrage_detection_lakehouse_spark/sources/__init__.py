"""Source connectors: testdata parquet, Kafka, and the Delta log client."""
