package graft

import graft.queries.CurationQs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** curate_corpus branch coverage on a PLANTED corpus: the synthetic
  * test tables never trip the contamination gate (zero 5-shingle
  * overlap between the bench split and training docs at every SF), so
  * this spec manufactures a corpus where every verdict fires —
  * benchmark_doc, lang, quality, exact_dup, near_dup, contaminated,
  * kept — and pins each document's reason. The corpus, the Spark
  * result and the oracle SQL land under /tmp/graft_curate_planted for
  * tools/check_curate_planted.py to replay cross-engine (the same
  * pattern check_scale_branch.py uses for dedup_embedding's scale
  * branch). */
class CurateCorpusSpec extends AnyFunSuite with SharedSpark {

  private val OutDir = "/tmp/graft_curate_planted"

  test("every curation verdict fires on the planted corpus, reasons exact") {
    val enFill = "the a of and to in is it for on"
    // near-dup pair: 12 stop-heavy lines; doc 6 changes ONE trailing
    // word, so the 3-shingle sets differ in ~3 of ~120 shingles
    val nearBase = (1 to 12).map(i => s"$enFill row$i the of and").mkString(" ")
    val docs = Seq(
      // lang: pure German stopwords → dominance fold predicts 'de'
      (1L, (1 to 8).map(_ => "der die das und ist ein zu mit von auf").mkString(" "), "de"),
      // quality: punctuation-heavy 6-token text, predicted en
      (2L, "the ??? !!! %%% ((( )))", "en"),
      // exact pair: identical normalized text; 3 is canonical, 4 drops
      (3L, (1 to 7).map(_ => enFill).mkString(" "), "en"),
      (4L, (1 to 7).map(_ => enFill).mkString("  "), "en"),
      // near pair: one word differs; 5 survives, 6 drops
      (5L, nearBase + " the end alpha", "en"),
      (6L, nearBase + " the end omega", "en"),
      // contaminated: clean en text embedding a bench 5-gram
      (7L, (1 to 6).map(_ => enFill).mkString(" ") +
        " alpha beta gamma delta epsilon " + enFill, "en"),
      // kept: clean distinct en text
      (8L, (1 to 7).map(i => s"$enFill keep$i").mkString(" "), "en"),
      // benchmark doc (id % 100 == 0) carrying the planted 5-gram
      (100L, "alpha beta gamma delta epsilon zeta", "en"))
    import spark.implicits._
    val dir = OutDir
    val fs = new java.io.File(dir)
    if (fs.exists()) org.apache.commons.io.FileUtils.deleteDirectory(fs)
    docs.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"),
        lit("planted").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // fresh dedup artifact for this corpus (ProjIndex keys artifacts by
    // sanitized dir under the index root; the planted corpus must never
    // reuse a stale pairs table from an earlier corpus layout). Resolve
    // the versioned path through ProjIndex (advice r9: a hardcoded
    // version segment turns into a no-op delete when Version bumps),
    // and ALSO sweep the same sanitized-dir subtree under any other
    // version so an edited fixture can never replay against a stale
    // artifact from a pre-bump run.
    val idx = new java.io.File(graft.operators.ProjIndex.tablePath(dir, ""))
    if (idx.exists()) org.apache.commons.io.FileUtils.deleteDirectory(idx)
    // tablePath(dir, "") = <root>/<version>/<sanitized dir>
    val idxRoot = idx.getParentFile.getParentFile
    Option(idxRoot.listFiles()).getOrElse(Array.empty).foreach { ver =>
      val sub = new java.io.File(ver, idx.getName)
      if (sub.exists()) org.apache.commons.io.FileUtils.deleteDirectory(sub)
    }
    val res = CurationQs.curateCorpus.fn(spark, dir)
      .localCheckpoint()
    val got = res.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("reason"))).toMap
    val want = Map(
      1L -> (false, "lang"),
      2L -> (false, "quality"),
      3L -> (true, "kept"),
      4L -> (false, "exact_dup"),
      5L -> (true, "kept"),
      6L -> (false, "near_dup"),
      7L -> (false, "contaminated"),
      8L -> (true, "kept"),
      100L -> (false, "benchmark_doc"))
    assert(got == want, s"verdicts differ: $got")
    // artifacts for the cross-engine replay tool
    res.coalesce(1).write.mode("overwrite").parquet(s"$dir/found.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/oracle.sql"),
      CurationQs.curateCorpus.oracle.get.getBytes("UTF-8"))
  }
}
