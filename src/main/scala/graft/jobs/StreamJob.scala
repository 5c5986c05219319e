package graft.jobs

import graft.operators.{KeyFieldSort, Pipe}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** The hadoop-streaming job facade: `-mapper cmd [-combiner cmd] -reducer cmd`
  * composed as pipe → keyed shuffle → pipe.
  *
  * Re-expresses StreamJob (hadoop-tools/hadoop-streaming .../streaming/
  * StreamJob.java:420-475 argv wiring) and the PipeMapper/PipeReducer line
  * protocol (PipeMapper.java:79-81: mapper output lines are split at
  * `stream.map.output.field.separator` with the first
  * `stream.num.map.output.key.fields` fields as the shuffle key;
  * PipeMapRed.java:214 feeds the reducer `key SEP value` lines, so a line
  * with an empty value carries a trailing separator, exactly as
  * TextOutputFormat writes it).
  *
  * Spark-first shape:
  *  - mapper/combiner/reducer are `Pipe.pipeLines` stages (one subprocess per
  *    partition, feeder thread, stderr inherited);
  *  - the "shuffle" is `repartition(partition-key)` +
  *    `sortWithinPartitions(sort-keys)` — all lines of a key land in one
  *    partition, contiguous and sorted, which is the exact contract a
  *    streaming reducer (e.g. `uniq`, `awk` accumulators) relies on;
  *  - an optional `-k` comparator spec (KeyFieldBasedComparator) compiles via
  *    `KeyFieldSort` into the within-partition sort order;
  *  - `partitionKeyFields` < numKeyFields mirrors KeyFieldBasedPartitioner's
  *    partition-on-key-prefix (all keys sharing the prefix meet in one
  *    reducer, sorted by the full key — the secondary-sort idiom).
  *
  * Scale: both pipes run per-partition with no driver involvement; the only
  * shuffle is the keyed repartition, whose width follows
  * `spark.sql.shuffle.partitions` / AQE exactly like any aggregation.
  */
object StreamJob {

  final case class Spec(
      mapper: Seq[String],
      reducer: Seq[String] = Nil, // Nil ≙ IdentityReducer (sorted keyed lines out)
      combiner: Seq[String] = Nil,
      separator: String = "\t",
      numKeyFields: Int = 1,
      partitionKeyFields: Int = 0, // 0 ≙ numKeyFields
      sortSpec: String = "") // "" ≙ plain ascending full-key sort

  /** Run the streaming job over a dataset of input lines. */
  def run(lines: Dataset[String], spec: Spec): Dataset[String] = {
    val spark = lines.sparkSession
    val mapped = Pipe.pipeLines(lines, spec.mapper)

    val sepQ = java.util.regex.Pattern.quote(spec.separator)
    val partFields = if (spec.partitionKeyFields > 0) spec.partitionKeyFields
                     else spec.numKeyFields

    // Canonicalize a line stream to the PipeMapRed wire format: line is
    // rebuilt as key SEP value (a trailing separator marks an empty value),
    // with __key/__pkey alongside. Applied identically to mapper AND combiner
    // output — MapReduce guarantees combiner output is re-serialized exactly
    // like mapper output, so the reducer sees one wire format either way.
    def keyed(lines: Dataset[String]): DataFrame = {
      val fields = split(col("line"), sepQ)
      def joinFields(n: Int): Column = concat_ws(spec.separator,
        (1 to n).map(i => coalesce(get(fields, lit(i - 1)), lit(""))): _*)
      lines.toDF("line")
        .select(joinFields(spec.numKeyFields).as("__key"),
          joinFields(partFields).as("__pkey"),
          array_join(slice(fields, spec.numKeyFields + 1, 1 << 24), spec.separator).as("__val"))
        .select(concat(col("__key"), lit(spec.separator), col("__val")).as("line"),
          col("__key"), col("__pkey"))
    }

    val mappedKeyed = keyed(mapped)
    val combined =
      if (spec.combiner.isEmpty) mappedKeyed
      else { // combiner runs on map-side-sorted runs, before the shuffle
        val pre = mappedKeyed.sortWithinPartitions(col("__key"))
          .select(col("line")).as(Encoders.STRING)
        keyed(Pipe.pipeLines(pre, spec.combiner))
      }

    val sortCols: Seq[Column] =
      if (spec.sortSpec.isEmpty) Seq(col("__key"))
      else KeyFieldSort.sortColumns(split(col("line"), sepQ), KeyFieldSort.parse(spec.sortSpec))
    val shuffled = combined
      .repartition(col("__pkey"))
      .sortWithinPartitions(sortCols: _*)
      .select(col("line")).as(Encoders.STRING)

    if (spec.reducer.isEmpty) shuffled
    else Pipe.pipeLines(shuffled, spec.reducer)
  }
}
