package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** COUNT(*) grouped by a single LONG key, as a dedicated physical
  * operator — the engine-level half of the full-graph link-prediction
  * plan (gx18). Plan-shape work landed in round 6 (one complete
  * aggregate after a by-key exchange, packed single-long key); what
  * remained was aggregation machinery: Spark's `HashAggregateExec`
  * routes every probe through an `UnsafeFixedWidthAggregationMap`
  * (UnsafeRow key + UnsafeRow buffer inside a `BytesToBytesMap`, ~48+
  * bytes and several indirections per entry), where a count-by-long
  * needs exactly two flat long arrays. DuckDB's radix hash aggregate
  * is the single-node yardstick (~5 s for the 148M-wedge / 101M-key
  * core that HashAggregateExec does in ~12 s); this operator is the
  * Spark-side equivalent: open-addressed long→long table, linear
  * probing, multiplicative hashing, 16 bytes per entry, zero per-row
  * allocation — and, past [[PackedCountAgg.RadixThresholdKey]] rows per
  * partition (where a flat table outgrows L3 and every probe becomes a
  * DRAM miss), a DuckDB-style in-task radix pass: keys scatter into 256
  * hash-top-byte shards with two sequential passes, then each shard
  * aggregates in a table 256× smaller whose probes stay cache-resident.
  *
  * Semantics: exactly `child.groupBy(key).agg(count(lit(1)))` —
  * including the null-key group (counted and emitted as one row with
  * a NULL key), so it is a drop-in for the generic aggregate.
  *
  * Scale contract (same as any correctly-sized hash aggregate): one
  * partition's DISTINCT keys × 16 B must fit on the executor heap —
  * at 100 TB you size `spark.sql.shuffle.partitions` for the key
  * cardinality, exactly as you would for `HashAggregateExec`, whose
  * spill path at that load is itself a performance cliff. The budget
  * is per CONCURRENT TASK SLOT sharing one JVM: a local[32] box with
  * an 8 GB heap gives 0.25 GB/core (production executors run
  * 2–8 GB/core), so sf1's ~46M-row partitions need ~256 shuffle
  * partitions there (5.8M rows × ~16 B transient × 32 slots ≈ 3 GB)
  * — `SPARK_GRAFT_SHUFFLE` overrides the dev mains for exactly this
  * (measured round 10: 32 partitions at 8 g OOMs, 256 completes). Drain
  * memory is bounded: up to [[PackedCountAgg.PersistentSwitchKey]]
  * rows (default 64M = 512 MB) the partition buffers flat — the lean
  * path for near-unique keys, whose worst-case transient is ~24 B ×
  * rows (power-of-two buffer slack plus the one-shot radix's
  * same-size scatter copy held briefly alongside it; one lazily-built
  * shard table resident at a time after that) — and beyond it rows
  * flow through bounded chunks into persistent per-shard tables, so a
  * skewed low-cardinality giant partition costs O(distinct + chunk),
  * never 8 B × rows unbounded.
  *
  * Used by `GraphXBridge.linkCandidates` when the pair key packs into
  * one long (conf `spark.graft.packedCountAgg`, default on);
  * registered for deployment via [[graft.api.GraftExtensions]] and
  * imperatively ([[GraftPlanner.install]]) by
  * [[PackedCountAgg.countByKey]] so any session can plan it.
  */
case class PackedKeyCountNode(
    child: LogicalPlan,
    countAttr: AttributeReference)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ countAttr
  override def producedAttributes: AttributeSet = AttributeSet(countAttr)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PackedKeyCountNode = copy(child = newChild)
}

case class PackedKeyCountExec(
    countAttr: AttributeReference,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ countAttr
  override def producedAttributes: AttributeSet = AttributeSet(countAttr)

  /** The whole point: ONE exchange hash-partitioned on the key, then a
    * single complete aggregate per partition (partial aggregation is a
    * measured pessimization at the near-unique key multiplicity this
    * operator exists for — PLANS.md round-6 gx18 table). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output) :: Nil

  /** Key attr is passed through with its exprId, so downstream
    * same-key joins (gx18's left-anti edge removal) reuse the
    * aggregation exchange — no second shuffle, no sort. */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // Above this many rows per partition the flat table outgrows cache
    // (≥4M rows ⇒ ≥64 MB of table at near-unique multiplicity) and every
    // probe is a DRAM miss; the radix path then pays one extra
    // sequential pass to make the probes cache-resident. 0 disables.
    val radixThreshold = org.apache.spark.sql.internal.SQLConf.get
      .getConfString(PackedCountAgg.RadixThresholdKey, (1 << 22).toString)
      .toLong
    // Past this many BUFFERED rows per partition the drain stops being
    // one flat buffer and switches to bounded chunks feeding PERSISTENT
    // per-shard count tables — the backstop that keeps a skewed
    // low-cardinality giant partition at O(distinct + chunk) memory
    // instead of 8 B × rows (the former unconditional drain also
    // overflowed its bare `n << 1` growth at 2^30 rows). The default
    // (64M rows = 512 MB of buffer) sits above every measured workload
    // (gx18 sf1: ~46M rows/partition), because below the switch the
    // one-shot path is ~2× leaner for the near-unique-key case this
    // operator exists for: 8–16 B × rows of flat longs vs ~26 B ×
    // distinct of persistent hash slots, with only ONE lazily-built
    // shard table resident at a time.
    val persistentSwitch = org.apache.spark.sql.internal.SQLConf.get
      .getConfString(PackedCountAgg.PersistentSwitchKey,
        (1L << 26).toString).toLong
    child.execute().mapPartitionsInternal { iter =>
      val S = 256
      var buf = new Array[Long](1 << 14)
      var n = 0
      var zeroCnt = 0L
      var nullCnt = 0L

      // ---- persistent per-shard count tables (past persistentSwitch)
      // 256 open-addressed long→long tables, one per hash-top-byte
      // shard; each chunk scatters with two sequential counting-sort
      // passes, then inserts shard-by-shard so probes touch one
      // bounded table at a time.
      var persistent = false
      var shardKeys: Array[Array[Long]] = null
      var shardCnts: Array[Array[Long]] = null
      var shardUsed: Array[Int] = null
      var scatter: Array[Long] = null
      val counts = new Array[Int](S + 1)

      def hashOf(k: Long): Long = k * -7046029254386353131L

      def insert(s: Int, k: Long): Unit = {
        var keys = shardKeys(s)
        var cnts = shardCnts(s)
        var mask = keys.length - 1
        val h = hashOf(k)
        var p = ((h ^ (h >>> 32)).toInt) & mask
        var kp = keys(p)
        while (kp != 0L && kp != k) { p = (p + 1) & mask; kp = keys(p) }
        if (kp != 0L) { cnts(p) += 1L; return }
        // new key: grow first if the insert would pass 5/8 load
        if (shardUsed(s) + 1 >
            keys.length - (keys.length >> 2) - (keys.length >> 3)) {
          val cap = keys.length
          val ncap = cap << 1
          val nmask = ncap - 1
          val nk = new Array[Long](ncap)
          val nc = new Array[Long](ncap)
          var i = 0
          while (i < cap) {
            val kk = keys(i)
            if (kk != 0L) {
              val hh = hashOf(kk)
              var pp = ((hh ^ (hh >>> 32)).toInt) & nmask
              while (nk(pp) != 0L) pp = (pp + 1) & nmask
              nk(pp) = kk
              nc(pp) = cnts(i)
            }
            i += 1
          }
          shardKeys(s) = nk; shardCnts(s) = nc
          keys = nk; cnts = nc; mask = nmask
          p = ((h ^ (h >>> 32)).toInt) & mask
          while (keys(p) != 0L) p = (p + 1) & mask
        }
        keys(p) = k
        cnts(p) = 1L
        shardUsed(s) += 1
      }

      // Counting-sort src[from,until) by hash top byte into dest[0,…):
      // after the call, counts(s)..counts(s+1) are shard s's bounds in
      // dest. The ONE scatter implementation both aggregation modes
      // share (a drifted copy would silently desynchronize them).
      def scatterByShard(src: Array[Long], from: Int, until: Int,
          dest: Array[Long]): Unit = {
        java.util.Arrays.fill(counts, 0)
        var i = from
        while (i < until) {
          counts(((hashOf(src(i)) >>> 56).toInt & (S - 1)) + 1) += 1
          i += 1
        }
        i = 1
        while (i <= S) { counts(i) += counts(i - 1); i += 1 }
        val offsets = java.util.Arrays.copyOf(counts, S)
        i = from
        while (i < until) {
          val k = src(i)
          val s = (hashOf(k) >>> 56).toInt & (S - 1)
          dest(offsets(s)) = k
          offsets(s) += 1
          i += 1
        }
      }

      // Scatter buf[0,n) into the persistent shard tables, in
      // chunk-sized sub-slices so the scatter scratch never mirrors a
      // large buffer.
      def flushToShards(): Unit = {
        if (scatter == null)
          scatter = new Array[Long](
            math.min(n, PackedCountAgg.ChunkRows).max(1))
        var from = 0
        while (from < n) {
          val until = math.min(from + PackedCountAgg.ChunkRows, n)
          if (scatter.length < until - from)
            scatter = new Array[Long](until - from)
          scatterByShard(buf, from, until, scatter)
          var s = 0
          while (s < S) {
            var j = counts(s)
            val end = counts(s + 1)
            while (j < end) { insert(s, scatter(j)); j += 1 }
            s += 1
          }
          from = until
        }
        n = 0
      }

      // ---- drain: nulls and the sentinel-colliding 0 key counted
      // out-of-band once for all paths; other keys buffer flat until
      // persistentSwitch, then flow chunk-by-chunk into the shard
      // tables (memory O(distinct + chunk) from there on).
      while (iter.hasNext) {
        val row = iter.next()
        if (row.isNullAt(0)) nullCnt += 1L
        else {
          val k = row.getLong(0)
          if (k == 0L) zeroCnt += 1L
          else {
            if (!persistent && n.toLong >= persistentSwitch) {
              shardKeys = Array.fill(S)(new Array[Long](1 << 6))
              shardCnts = Array.fill(S)(new Array[Long](1 << 6))
              shardUsed = new Array[Int](S)
              persistent = true
              flushToShards()
              if (buf.length > PackedCountAgg.ChunkRows)
                buf = new Array[Long](PackedCountAgg.ChunkRows) // release the big flat buffer
            }
            if (n == buf.length) {
              if (persistent) flushToShards()
              else {
                val grown = math.min(
                  buf.length.toLong << 1, (Int.MaxValue - 8).toLong).toInt
                require(grown > buf.length, "PackedKeyCountExec: " +
                  "partition exceeds 2^31 buffered rows — lower " +
                  PackedCountAgg.PersistentSwitchKey)
                buf = java.util.Arrays.copyOf(buf, grown)
              }
            }
            buf(n) = k
            n += 1
          }
        }
      }

      // Open-addressed long→long count table over buf[from, until):
      // linear probing, multiplicative (Fibonacci) hashing, key 0
      // reserved as the empty sentinel, 16 B per entry, sized upfront
      // for the slice (5/8 max load) so the hot loop never grows.
      // Returns (keys, cnts) for the emit iterator to walk.
      def countSlice(src: Array[Long], from: Int, until: Int)
          : (Array[Long], Array[Long]) = {
        // Sized upfront for the slice's rows (no rehash in the common
        // near-unique case) but capped at 1M entries so heavy-duplicate
        // inputs don't over-allocate 8× — beyond the cap it doubles at
        // 5/8 load like any open table.
        var cap = 1 << 10
        val rows = until - from
        while (cap - (cap >> 2) - (cap >> 3) < rows && cap < (1 << 20))
          cap <<= 1
        var mask = cap - 1
        var keys = new Array[Long](cap)
        var cnts = new Array[Long](cap)
        var used = 0
        def grow(): Unit = {
          val ncap = cap << 1
          val nmask = ncap - 1
          val nk = new Array[Long](ncap)
          val nc = new Array[Long](ncap)
          var i = 0
          while (i < cap) {
            val k = keys(i)
            if (k != 0L) {
              val h = k * -7046029254386353131L
              var p = ((h ^ (h >>> 32)).toInt) & nmask
              while (nk(p) != 0L) p = (p + 1) & nmask
              nk(p) = k
              nc(p) = cnts(i)
            }
            i += 1
          }
          cap = ncap; mask = nmask; keys = nk; cnts = nc
        }
        var i = from
        while (i < until) {
          val k = src(i)
          val h = k * -7046029254386353131L // golden-ratio odd constant
          var p = ((h ^ (h >>> 32)).toInt) & mask
          var kp = keys(p)
          while (kp != 0L && kp != k) { p = (p + 1) & mask; kp = keys(p) }
          if (kp == 0L) {
            keys(p) = k
            cnts(p) = 1L
            used += 1
            if (used > cap - (cap >> 2) - (cap >> 3)) grow() // 5/8 load
          } else cnts(p) += 1L
          i += 1
        }
        (keys, cnts)
      }

      // ---- phase 2: emit.
      // Persistent mode: the shard tables already hold the final
      // counts — flush the tail chunk and walk them. Otherwise the
      // whole partition sits in `buf`: aggregate DIRECT (one table)
      // below radixThreshold rows, or via the one-shot radix — scatter
      // once, then LAZY per-slice tables so only one shard's table is
      // ever resident (the lean path for near-unique keys: flat longs,
      // not persistent hash slots).
      val segments: Iterator[(Array[Long], Array[Long])] =
        if (persistent) {
          flushToShards()
          (0 until S).iterator.filter(shardUsed(_) > 0)
            .map(s => (shardKeys(s), shardCnts(s)))
        } else if (n == 0) Iterator.empty
        else if (radixThreshold <= 0L || n <= radixThreshold) {
          Iterator.single(countSlice(buf, 0, n))
        } else {
          val sorted = new Array[Long](n)
          scatterByShard(buf, 0, n, sorted)
          buf = null // the scattered copy replaces the drain buffer
          // counts is shared scratch: snapshot the boundaries the LAZY
          // segment iterator will read (nothing else mutates counts in
          // non-persistent mode, but the copy makes that local)
          val bounds = counts.clone()
          (0 until S).iterator
            .filter(s => bounds(s + 1) > bounds(s))
            .map(s => countSlice(sorted, bounds(s), bounds(s + 1)))
        }

      val out = new SpecificInternalRow(Seq(LongType, LongType))
      val proj = UnsafeProjection.create(
        Array[org.apache.spark.sql.types.DataType](LongType, LongType))
      new Iterator[InternalRow] {
        private var keys: Array[Long] = null
        private var cnts: Array[Long] = null
        private var i = 0
        private var zeroLeft = zeroCnt > 0L
        private var nullLeft = nullCnt > 0L
        private def advance(): Unit = {
          while (keys != null && i < keys.length && keys(i) == 0L) i += 1
          while (keys == null || i == keys.length) {
            if (!segments.hasNext) { keys = null; return }
            val kc = segments.next()
            keys = kc._1; cnts = kc._2; i = 0
            while (i < keys.length && keys(i) == 0L) i += 1
          }
        }
        advance()
        override def hasNext: Boolean =
          (keys != null && i < keys.length) || zeroLeft || nullLeft
        override def next(): InternalRow = {
          numOutputRows += 1
          if (keys != null && i < keys.length) {
            out.setLong(0, keys(i)); out.setLong(1, cnts(i))
            i += 1; advance()
          } else if (zeroLeft) {
            out.setLong(0, 0L); out.setLong(1, zeroCnt)
            zeroLeft = false
          } else {
            out.setNullAt(0); out.setLong(1, nullCnt)
            nullLeft = false
          }
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PackedKeyCountExec = copy(child = newChild)
}

object PackedCountAgg {

  /** Session conf gate (default ON): set to false to fall back to the
    * generic `groupBy(pk).count()` plan. */
  val ConfKey = "spark.graft.packedCountAgg"

  /** Rows-per-partition above which the task radix-shards its keys by
    * the hash's top byte and aggregates shard-by-shard with
    * cache-resident tables instead of one DRAM-sized flat table
    * (default 4M rows ≈ the table size where probes start missing L3).
    * Set to 0 to force the direct single-table path — BELOW the
    * [[PersistentSwitchKey]] bound only: a partition that crosses the
    * persistent switch always takes the bounded chunked path (the
    * memory backstop outranks the debugging knob); raise the switch
    * too if a truly flat run of a giant partition is intended. */
  val RadixThresholdKey = "spark.graft.packedCountAgg.radixThreshold"

  /** Chunk granularity (rows) shared by the persistent-mode drain
    * buffer and the scatter scratch: 4M rows = 32 MB each. */
  val ChunkRows: Int = 1 << 22

  /** Buffered rows per partition above which the drain abandons the
    * flat one-shot buffer for bounded chunks feeding persistent
    * per-shard count tables — the memory backstop for skewed
    * low-cardinality giant partitions (default 64M rows = 512 MB;
    * memory past the switch is O(distinct keys + one chunk)). */
  val PersistentSwitchKey = "spark.graft.packedCountAgg.persistentSwitch"

  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get(ConfKey, "true").toBoolean

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PackedKeyCountNode(child, countAttr) =>
        PackedKeyCountExec(countAttr, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** `df.groupBy(<the single LONG column>).agg(count(lit(1)) as
    * countName)` through [[PackedKeyCountExec]]. Installs the planner
    * strategy on the frame's session ([[GraftPlanner.install]]), so the
    * operator works on sessions built without [[graft.api.GraftExtensions]].
    */
  def countByKey(df: DataFrame, countName: String): DataFrame = {
    val schema = df.schema
    require(schema.length == 1 && schema.head.dataType == LongType,
      s"countByKey wants exactly one LONG key column, got: $schema")
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val session = cdf.sparkSession
    GraftPlanner.install(session)
    val countAttr = AttributeReference(countName, LongType,
      nullable = false)()
    classic.Dataset.ofRows(session,
      PackedKeyCountNode(cdf.queryExecution.analyzed, countAttr))
  }
}
