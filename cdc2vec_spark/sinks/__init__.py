"""Sinks: the Kafka message, Qdrant parity and Milvus payload helpers.
The engine-native sink is the keyed point store,
runner.PointsCollection (cdc.segments)."""
