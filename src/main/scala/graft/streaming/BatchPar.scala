package graft.streaming

import org.apache.spark.sql.DataFrame

/** The arriving-batch parallelism policy of the index-backed streaming
  * loops' `foreachBatch` bodies: every batch is spread over the
  * session's default parallelism before the loop's per-row work.
  *
  * WHY (r15, measured): a one-file-per-trigger FILE source delivers
  * each micro-batch as ONE scan partition, so the whole batch's
  * signature/quantize work serializes onto a single core — observed
  * live at the 100x rehearsal tier: ~20 min/batch at load 1.5 on 32
  * cores until the arriving slice was repartitioned. Every place the
  * loops run feeds them from file backlogs (the rehearsals, the corpus
  * pipeline), so the spread is unconditional. A Kafka-fed loop would
  * pay one extra exchange per batch for it; none is deployed.
  */
object BatchPar {
  def apply(batch: DataFrame): DataFrame =
    batch.repartition(batch.sparkSession.sparkContext.defaultParallelism)
}
