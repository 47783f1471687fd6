package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rdf.{Quad, QuadDiff, QuadStore}

/** Write-back update routing — the reference's Updater
  * (`core/src/main/com/thymeflow/update/Updater.scala:26-197`): a SPARQL
  * UPDATE diff is split per named graph; portions owned by writable
  * sources are applied there, portions on read-only graphs fall through to
  * the user graph, and failed *removals* are recorded as negation
  * statements (`Negation.scala:16-23`) so the pipeline's J5 guard keeps
  * re-ingested copies suppressed.
  */
object Updater {

  val UserGraph = "graft:user"
  val NegationGraph = "graft:negations"

  final case class UpdateResult(
      store: DataFrame, // store after the update, committed
      negations: DataFrame) // new negation quads (for the J5 guard)

  /** @param writableGraphs graphs whose owning source accepts writes; the
    *        reference's FileSynchronizer-style sources refuse
    *        (`FileSynchronizer.scala:311-319`), DAV sources accept. */
  def applyUpdate(
      store: DataFrame,
      diff: QuadDiff,
      writableGraphs: Set[String]): UpdateResult = {
    val owned = array_contains(typedLit(writableGraphs.toSeq), col("g")) ||
      col("g") === UserGraph
    // additions: writable graphs keep their graph; everything else lands
    // in the user graph (reference: "failures land in the user graph")
    val adds = diff.added.withColumn("g", when(owned, col("g")).otherwise(lit(UserGraph)))
    // removals: allowed on writable graphs and the user graph; a removal
    // on a read-only graph cannot be applied at the source -> record a
    // negation statement instead
    val negations = diff.removed.where(!owned)
      .select(col("s"), col("p"), col("o"), col("oKind"), col("oDt"), col("oLang"))
      .distinct()
      .withColumn("g", lit(NegationGraph))
      .select(store.columns.map(col): _*)
    // negated statements leave the store at once: additions under a
    // negated (s,p,o) are dropped and the store's copies outside the
    // negation graph are removed. Both are semi/anti joins on the key, so
    // two negation variants sharing (s,p,o) (different oLang/oDt) fan
    // nothing out
    val negated = negations.select("s", "p", "o")
    val spo = Seq("s", "p", "o")
    val next = QuadStore.applyDiff(store, QuadDiff(
      added = adds.join(negated, spo, "left_anti").unionByName(negations),
      removed = diff.removed.where(owned).unionByName(
        store.join(negated, spo, "left_semi").where(col("g") =!= NegationGraph))))
    UpdateResult(next, negations)
  }
}
