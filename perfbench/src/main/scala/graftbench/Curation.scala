package graftbench

import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.{Dedup, Ema, Similarity, TextAnalysis, TrainingData}

/** Training-corpus curation, one client: the export plan (quality
  * filter → near-duplicate cluster fixpoint → decontamination → split),
  * the cross-source overlap report and embedding semantic dedup. */
object Curation extends QueryWorkload {
  val queries: Seq[String] = Seq("q_export_plan", "q_source_overlap", "q_semdedup")

  def warmUp(h: Harness): Unit = {
    h.noop(Tables.documents(h.spark, h.inputs))
    h.noop(Tables.embeddings(h.spark, h.inputs))
  }

  def layers(h: Harness): Unit = {
    val docs = Tables.documents(h.spark, h.inputs)
    val emb = Tables.embeddings(h.spark, h.inputs)
    h.timeLayer("tables.scan_s", "Tables.documents") { h.noop(docs); h.noop(emb) }
    h.layer("tables.rows") = (docs.count() + emb.count()).toDouble
    h.timeLayer("text.quality_filter_s", "TextAnalysis.qualityFilter")(
      h.noop(TextAnalysis.qualityFilter(docs)))
    val pairs = h.timeLayer("dedup.pair_graph_s", "Dedup.dedupPairGraph") {
      val p = Dedup.dedupPairGraph(docs).persist()
      h.noop(p)
      p
    }
    h.layer("dedup.pairs") = pairs.count().toDouble
    val jobsBefore = h.probe.counters().jobs
    h.timeLayer("dedup.cluster_labels_s", "Dedup.clusterLabelsFromPairs")(
      h.noop(Dedup.clusterLabelsFromPairs(pairs, docs.select(col("doc_id")))))
    h.drainEvents()
    h.layer("dedup.fixpoint_jobs") = (h.probe.counters().jobs - jobsBefore).toDouble
    pairs.unpersist(blocking = true)
    h.timeLayer("training.decontaminate_s", "TrainingData.decontaminate")(
      h.noop(TrainingData.decontaminate(docs)))
    h.timeLayer("training.train_split_s", "TrainingData.trainSplit")(
      h.noop(TrainingData.trainSplit(docs)))
    h.timeLayer("training.export_plan_s", "TrainingData.exportPlan")(
      h.noop(TrainingData.exportPlan(docs)))
    Ema.unpersistAll()
    h.timeLayer("dedup.source_overlap_s", "Dedup.crossSourceOverlap")(
      h.noop(Dedup.crossSourceOverlap(docs)))
    h.timeLayer("similarity.semdedup_s", "Similarity.semDedup")(
      h.noop(Similarity.semDedup(emb)))
    h.cleanup()
  }
}
