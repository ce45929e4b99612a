"""Settings of `get_spark` that the workloads' memory depends on."""

from pyspark.sql import functions as F


def _broadcast_value_bytes(spark) -> int:
    """Bytes the block manager holds for broadcast values (not their
    serialized pieces)."""
    entries = (spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
               .blockManager().blockInfoManager().entries())
    total = 0
    while entries.hasNext():
        entry = entries.next()
        name = entry._1().name()
        if name.startswith("broadcast_") and "_piece" not in name:
            total += entry._2().size()
    return total


def test_small_broadcast_relation_holds_a_small_page(spark):
    """A broadcast hash relation takes at least one Tungsten page, and the
    broadcast keeps it until the ContextCleaner drops it. At Spark's default
    page size, which follows the heap (64 MB for this session's heap), a
    broadcast join of 100 rows would hold that much."""
    small = spark.range(100).select(F.col("id").cast("string").alias("k"))
    big = spark.range(10_000).select((F.col("id") % 100).cast("string").alias("k"))
    before = _broadcast_value_bytes(spark)
    assert big.join(F.broadcast(small), "k").count() == 10_000
    assert _broadcast_value_bytes(spark) - before < 4 * 2**20
