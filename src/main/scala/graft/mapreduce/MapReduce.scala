package graft.mapreduce

import java.nio.charset.StandardCharsets

import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}

import graft.functions.Djb2

/** Spark-first re-expression of the reference MapReduce API (the C
  * library's mapreduce.h: `MR_Run` / `MR_Emit` / `MR_Partitioner` /
  * `MR_GetNext`).
  *
  * Semantic mapping:
  *  - map phase (one threadpool job per input split, mapreduce.c:176-180)
  *    → `RDD.flatMap`: one task per partition, cluster-wide. MAP WIDTH:
  *    an input with fewer partitions than `defaultParallelism` (a small
  *    file is one split) is repartitioned to `defaultParallelism` first,
  *    the rule `Tables.parallelize` applies to DataFrames; an input that
  *    already has that many splits is left untouched, so at scale this
  *    costs nothing.
  *  - `MR_Emit` into a mutex-guarded per-partition list (mapreduce.c:203)
  *    → the shuffle write, after the `MR_Emit` drop rule (see [[emit]]);
  *    the djb2 partitioner (mapreduce.c:239) is preserved bit-for-bit via
  *    [[graft.functions.Djb2]].
  *  - reduce phase: per-key jobs draining `MR_GetNext` (mapreduce.c:183-191)
  *    → sort-based grouping (a key-ordered shuffle + streaming
  *    run-detection). The shuffle sort spills, so no partition has to fit
  *    in memory, and keys reach the reducer one run at a time; only the
  *    current key's run is buffered (the SKEW CONTRACT on
  *    [[GroupedRunIterator]]). The reference materializes all pairs in
  *    RAM; we intentionally do not.
  *
  * The order of values within one key is unspecified in [[run]]: it
  * depends on which map task emitted them and on shuffle fetch order.
  * [[runSorted]] is the ordered path.
  *
  * SERIALIZER: every facade shuffle is encoded with Kryo (see
  * [[shuffleSerializer]]), set per shuffle rather than session-wide so
  * that no other RDD path in the engine changes encoding.
  *
  * This facade is the compatibility surface for reference users. New code
  * should express the same jobs declaratively (see
  * `graft.operators.MapReduceQueries`) so Catalyst/Tungsten codegen and
  * partial aggregation apply; the facade exists for genuinely imperative
  * per-key reducers.
  */
object MapReduce {

  /** djb2-based partitioner, bit-compatible with `MR_Partitioner`. Equal
    * for equal `numParts`, so Spark skips the shuffle of a later
    * `reduceByKey`/`join` on an RDD already laid out by it. */
  final case class Djb2Partitioner(numParts: Int) extends Partitioner {
    override def numPartitions: Int = numParts
    override def getPartition(key: Any): Int =
      if (key == null) 0
      else Djb2.partition(key.toString.getBytes(StandardCharsets.UTF_8), numParts)
  }

  /** [[runSorted]]'s partitioner: djb2 on the primary key of a composite
    * `(K, S)` key, so a key's whole run lands in one partition whatever
    * its secondary values — the same layout [[Djb2Partitioner]] gives `K`. */
  final case class Djb2PrimaryKeyPartitioner(numParts: Int) extends Partitioner {
    private val primary = Djb2Partitioner(numParts)
    override def numPartitions: Int = numParts
    override def getPartition(key: Any): Int =
      primary.getPartition(key.asInstanceOf[Product2[Any, Any]]._1)
  }

  /** MR_Run: map `input` with `mapper` (emitting KV pairs), hash-partition
    * by key into `numParts` djb2 partitions, group each partition's pairs
    * by key, and fold each key's values with `reducer`. The order of a
    * key's values is unspecified; use [[runSorted]] when it matters.
    */
  def run[T, K: ClassTag: Ordering, V: ClassTag, O: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => O,
      numParts: Int): RDD[O] =
    sortedShuffle(emit(input, mapper, identity[V]), Djb2Partitioner(numParts))
      .mapPartitions { pairs =>
        new GroupedRunIterator(pairs).map { case (k, vs) => reducer(k, vs) }
      }

  /** MR_Run with a combiner — the optimization the reference lacks: `merge`
    * runs map-side per partition before the shuffle, so only one value per
    * (partition, key) crosses the network instead of every emitted pair.
    * This is what makes wordcount at 100 TB shuffle the vocabulary, not
    * the corpus. Requires an associative, commutative `merge`. The result
    * is laid out by `Djb2Partitioner(numParts)`. */
  def runCombined[T, K: ClassTag: Ordering, V: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, V)],
      merge: (V, V) => V,
      numParts: Int): RDD[(K, V)] =
    emit(input, mapper, identity[V]).combineByKeyWithClassTag[V](
      (v: V) => v, merge, merge, Djb2Partitioner(numParts),
      mapSideCombine = true, serializer = shuffleSerializer(input.sparkContext))

  /** MR_Run with secondary sort: within each key, `reducer` sees values
    * ordered by `secondary` — the classic MapReduce pattern for
    * first/last/transition logic, done by sorting the shuffle files
    * on the composite key instead of buffering per-key in memory. */
  def runSorted[T, K: ClassTag: Ordering, S: ClassTag: Ordering, V: ClassTag, O: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, (S, V))],
      reducer: (K, Iterator[V]) => O,
      numParts: Int): RDD[O] = {
    val composite = emit(input, mapper, (sv: (S, V)) => sv._2)
      .map { case (k, (s, v)) => ((k, s), v) }
    sortedShuffle(composite, Djb2PrimaryKeyPartitioner(numParts))
      .mapPartitions { pairs =>
        val byKey = pairs.map { case ((k, _), v) => (k, v) }
        new GroupedRunIterator(byKey).map { case (k, vs) => reducer(k, vs) }
      }
  }

  /** The map side all three paths share: widen `input` to
    * `defaultParallelism` splits when it has fewer (the MAP WIDTH rule in
    * the header), run `mapper`, and apply `MR_Emit`'s drop rule — NULL
    * keys, empty-string keys and null values never reach the shuffle
    * (mapreduce.c:205: `key == NULL || value == NULL || strlen(key) == 0`).
    * `payload` picks the part of an emitted value that the null check
    * sees: [[runSorted]]'s value carries its secondary key beside it. */
  private def emit[T, K, V](
      input: RDD[T],
      mapper: T => IterableOnce[(K, V)],
      payload: V => Any): RDD[(K, V)] = {
    val width = input.sparkContext.defaultParallelism
    val splits = if (input.getNumPartitions < width) input.repartition(width) else input
    splits
      .flatMap(mapper)
      .filter { case (k, v) => k != null && k != "" && v != null && payload(v) != null }
  }

  /** A key-ordered shuffle of `pairs` into `part`: the grouping shuffle of
    * [[run]] and [[runSorted]]. */
  private def sortedShuffle[K: ClassTag: Ordering, V: ClassTag](
      pairs: RDD[(K, V)], part: Partitioner): RDD[(K, V)] =
    new ShuffledRDD[K, V, V](pairs, part)
      .setKeyOrdering(implicitly[Ordering[K]])
      .setSerializer(shuffleSerializer(pairs.sparkContext))

  /** Kryo for every facade shuffle. Spark picks Kryo on its own only when
    * key and value are primitives or strings, so runSorted's composite
    * key, and any tuple or case-class value, would otherwise be written
    * with Java serialization. */
  private def shuffleSerializer(sc: SparkContext): Serializer = new KryoSerializer(sc.getConf)

  /** Streams (key, values-iterator) runs out of a key-sorted iterator —
    * the reduce-side merge of classic MapReduce.
    *
    * SKEW CONTRACT: one key's run IS materialized in memory (the
    * ArrayBuffer below), so per-key memory is O(values of that key) — a
    * single pathologically hot key with more values than executor heap
    * will OOM here, exactly as the reference's per-key linked lists
    * would (mapreduce.c:203). The memory win over the reference is
    * per-PARTITION: other keys stream through, and the shuffle sort
    * spills. For skewed workloads use [[runCombined]] (map-side combine:
    * one value per (partition, key) crosses the shuffle, so the hot
    * key's run is num_partitions long, not num_records) or the
    * declarative `groupBy().agg()` path where Catalyst applies partial
    * aggregation automatically. MapReduceSpec pins both behaviors on a
    * deliberately hot key. */
  private final class GroupedRunIterator[K, V](underlying: Iterator[(K, V)])
      extends Iterator[(K, Iterator[V])] {
    private val it = underlying.buffered
    override def hasNext: Boolean = it.hasNext
    override def next(): (K, Iterator[V]) = {
      val key = it.head._1
      val run = scala.collection.mutable.ArrayBuffer.empty[V]
      while (it.hasNext && it.head._1 == key) run += it.next()._2
      (key, run.iterator)
    }
  }
}
