"""Large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) built Spark-first: JVM-side built-in
functions wherever expressible, Arrow batch kernels (``pipeline.map_batches``)
only where not."""
