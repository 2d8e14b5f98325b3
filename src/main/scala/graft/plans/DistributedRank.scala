package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.graftbridge.InternalRowBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed row_number for LOW-CARDINALITY partition keys.
  *
  * `row_number() OVER (PARTITION BY k ORDER BY …)` with a 5-value `k`
  * executes as 5 single-threaded sort tasks — the one window shape that
  * cannot scale by adding executors (SCALE.md "Windows"; q10 is the
  * borderline case). This operator computes identical numbers with
  * cluster-wide parallelism:
  *
  *  1. range-repartition by (k, orderCols) into N partitions and sort
  *     within each — a global sort, boundaries may split a key's run
  *     across adjacent partitions;
  *  2. count rows per (partitionIndex, k) — metadata-sized (N × |k|);
  *  3. offset(partition, k) = rows of `k` in earlier partitions; the
  *     final pass adds the local running index to the offset.
  *
  * Two passes over the data (the same price Spark's own global sort pays
  * for range-boundary sampling), driver state O(N × |k|). The RDD hop is
  * the declared per-partition imperative seam — the running index within
  * a sorted partition has no DataFrame spelling.
  *
  * r22 (VERDICT r21 #6): both passes run on InternalRows via
  * [[InternalRowBridge]] — the old `Dataset.rdd` / `createDataFrame`
  * round-trip decoded and re-encoded every field of every row through
  * external objects; now the materialized rows are the scan's own
  * UnsafeRows (one byte-array copy each, required because the sorter
  * reuses row buffers), pass 1 reads two fields per row, and pass 2
  * emits through one UnsafeProjection. Values are identical by
  * construction (same sort, same counts, same offset arithmetic);
  * DistributedRankSpec pins row equality against the window spelling.
  */
object DistributedRank {

  /** Append `rnCol` = row_number over (partition by `key`, order by
    * `order`) computed via range partitioning + offsets. `order` must be
    * a total order within each key for deterministic numbering. */
  def rowNumber(df: DataFrame, key: Column, order: Seq[Column],
      rnCol: String, numPartitions: Int = 32): DataFrame = {
    // withColumn REPLACES a same-named column, which would silently break
    // the positional indexing below — reject the reserved name up front
    require(!df.columns.contains("__rk"),
      "DistributedRank.rowNumber: input must not contain a __rk column")
    val spark = df.sparkSession
    val keyIdx = df.columns.length // key value re-projected as last col
    val sorted = df
      .withColumn("__rk", key)
      .repartitionByRange(numPartitions, (col("__rk") +: order): _*)
      .sortWithinPartitions((col("__rk") +: order): _*)
    val schema = sorted.schema
    val keyType = schema.fields(keyIdx).dataType
    // ONE materialization feeds both passes (r21, guide §2.4): without
    // it each consumer re-ran the whole upstream plan PLUS the range
    // exchange (including repartitionByRange's own boundary-sampling
    // job) — and two separate executions could sample different range
    // boundaries (offsets are keyed by partition id). localCheckpoint =
    // MEMORY_AND_DISK persist + lineage truncation — the q89/CC kernel
    // convention, swept by the harnesses' getPersistentRDDs cleanup.
    // The per-row copy is REQUIRED before persisting: the sort iterator
    // reuses its row backing pages.
    val rdd = InternalRowBridge.toRdd(sorted).map(_.copy()).localCheckpoint()

    // pass 1: per (partition, key) counts — collected, metadata-sized.
    // Key values referenced out of the materialized (copied) rows are
    // stable; UTF8String/UnsafeRow keys hash and compare by value.
    val counts: Array[(Int, Any, Long)] = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Any, Long]()
        it.foreach { r =>
          val k = r.get(keyIdx, keyType)
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        m.iterator.map { case (k, n) => (pid, k, n) }
      }.collect()

    // offset(partition, key) = rows of key in earlier partitions
    val offsets: Map[(Int, Any), Long] = counts
      .groupBy(_._2)
      .flatMap { case (k, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, n) =>
          val off = acc; acc += n; ((pid, k), off)
        }
      }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: local running index per key + offset, emitted through one
    // UnsafeProjection (drop the __rk scratch column, append rn)
    val outSchema = StructType(
      schema.fields.dropRight(1) :+ StructField(rnCol, LongType, false))
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap[Any, Long]()
      val rnRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(
        (0 until keyIdx).map(i =>
          BoundReference(i, schema.fields(i).dataType,
            schema.fields(i).nullable))
          :+ BoundReference(schema.fields.length, LongType, false))
      it.map { r =>
        val k = r.get(keyIdx, keyType)
        val i = local.getOrElse(k, 0L) + 1L
        local.update(k, i)
        rnRow.setLong(0, bcOffsets.value.getOrElse((pid, k), 0L) + i)
        proj(joined(r, rnRow)): InternalRow
      }
    }
    InternalRowBridge.fromRdd(spark, rows, outSchema)
  }

  /** Append `sumCol` = sum(`value`) OVER (PARTITION BY `key` ORDER BY
    * `order` ROWS UNBOUNDED PRECEDING) — an INCLUSIVE running sum —
    * computed with the same range-partition + broadcast-offset scheme as
    * [[rowNumber]]. Spark's own window spelling runs ONE task per key
    * value, which for a ~5-value key (language shards) serializes the
    * whole corpus through 5 reducers at any scale; this keeps all N
    * range partitions busy. `value` must be non-null and integral;
    * `order` must totally order rows within each key. */
  def runningSum(df: DataFrame, key: Column, order: Seq[Column],
      value: Column, sumCol: String, numPartitions: Int = 32): DataFrame = {
    // same reserved-name contract as rowNumber, for both scratch columns
    require(!df.columns.contains("__rk") && !df.columns.contains("__rv"),
      "DistributedRank.runningSum: input must not contain __rk/__rv columns")
    val spark = df.sparkSession
    val keyIdx = df.columns.length
    val valIdx = keyIdx + 1
    val sorted = df
      .withColumn("__rk", key)
      .withColumn("__rv", value.cast("long"))
      .repartitionByRange(numPartitions, (col("__rk") +: order): _*)
      .sortWithinPartitions((col("__rk") +: order): _*)
    val schema = sorted.schema
    val keyType = schema.fields(keyIdx).dataType
    // one materialization for both passes — see [[rowNumber]] (r21/r22)
    val rdd = InternalRowBridge.toRdd(sorted).map(_.copy()).localCheckpoint()

    // pass 1: per (partition, key) value sums — collected, metadata-sized
    val sums: Array[(Int, Any, Long)] = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Any, Long]()
        it.foreach { r =>
          val k = r.get(keyIdx, keyType)
          m.update(k, m.getOrElse(k, 0L) + r.getLong(valIdx))
        }
        m.iterator.map { case (k, n) => (pid, k, n) }
      }.collect()

    // offset(partition, key) = sum of key's values in earlier partitions
    val offsets: Map[(Int, Any), Long] = sums
      .groupBy(_._2)
      .flatMap { case (k, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, n) =>
          val off = acc; acc += n; ((pid, k), off)
        }
      }
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: local running sum per key + offset (drop both scratch
    // columns, append the running sum)
    val outSchema = StructType(
      schema.fields.dropRight(2) :+ StructField(sumCol, LongType, false))
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap[Any, Long]()
      val rnRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(
        (0 until keyIdx).map(i =>
          BoundReference(i, schema.fields(i).dataType,
            schema.fields(i).nullable))
          :+ BoundReference(schema.fields.length, LongType, false))
      it.map { r =>
        val k = r.get(keyIdx, keyType)
        val s = local.getOrElse(k, 0L) + r.getLong(valIdx)
        local.update(k, s)
        rnRow.setLong(0, bcOffsets.value.getOrElse((pid, k), 0L) + s)
        proj(joined(r, rnRow)): InternalRow
      }
    }
    InternalRowBridge.fromRdd(spark, rows, outSchema)
  }

  private def col(n: String): Column = org.apache.spark.sql.functions.col(n)
}
