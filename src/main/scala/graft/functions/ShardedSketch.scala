package graft.functions

/**
 * Read-side sharded bloom wrapper for the BROADCAST probe path
 * (SeenPrefilter.Bloom + NativeExpressions.shardedBloomProbe): when the
 * sketch is small enough that shipping it once per executor beats routing
 * every candidate row to its shard's partition, a broadcast handle plus the
 * codegen'd probe expression is the faster plan — the crawl loop assembles
 * one from the shard files while the sketch is small (CrawlConfig.
 * sketchBroadcastMaxBytes); catalogue q24 wraps a single sketch.
 *
 * The crawl loop's durable seen-sketch does NOT live here — it is the
 * partitioned, never-collected `RDD[SeenShard]` (SeenShards.scala), which
 * also owns construction, union-merge, per-shard growth, deletion and
 * per-shard checkpointing. This class is intentionally probe-only.
 */
final class ShardedBloom(val shards: Array[BloomSketch]) extends Serializable {

  @inline def shardOf(s: String): Int =
    Math.floorMod(BloomSketch.hash(s, ShardedBloom.RouteSalt), shards.length.toLong).toInt

  def mightContain(s: String): Boolean = shards(shardOf(s)).mightContain(s)

  def put(s: String): Unit = shards(shardOf(s)).put(s)
}

object ShardedBloom {
  /** Routing salt — distinct from every in-sketch hashing salt; shared with
   * ShardStore.routeOf so broadcast and routed probes agree on shards. */
  val RouteSalt: Long = 0x5ca4d0L

  def create(numShards: Int, expectedItemsPerShard: Long, fpp: Double): ShardedBloom =
    new ShardedBloom(Array.fill(numShards)(BloomSketch.create(expectedItemsPerShard, fpp)))

}
