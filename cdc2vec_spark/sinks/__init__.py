"""Sinks: the Kafka message schema, and the Qdrant and Milvus modules of
the one partition writer both external vector sinks deliver through
(sinks.http). The engine-native sink is the keyed point store,
runner.PointsCollection (cdc.segments)."""
