package churnbench

import java.nio.file.Files

import org.apache.spark.BenchBus
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.ml.ChurnML

class TracerSpec extends AnyFunSuite {

  private def stack(frames: String*) = frames.mkString("\n")

  test("call site: the innermost graft frame picks the layer, the API it called the ML step") {
    assert(Site.of(stack(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1)",
      "org.apache.spark.ml.tree.impl.RandomForest$.run(RandomForest.scala:2)",
      "org.apache.spark.ml.Pipeline.fit(Pipeline.scala:3)",
      "graft.ml.ChurnML$.trainEval(ChurnML.scala:4)",
      "churnbench.Main$.main(Main.scala:5)")) == Site("ml", "fit"))
    assert(Site.of(stack(
      "org.apache.spark.ml.util.MLWriter.save(ReadWrite.scala:1)",
      "graft.ml.ChurnML$.trainEval(ChurnML.scala:2)")) == Site("ml", "persist"))
    assert(Site.of(stack(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.eval.Metrics$.auc(Metrics.scala:2)",
      "graft.ml.ChurnML$.trainEval(ChurnML.scala:3)")) == Site("eval", ""))
    assert(Site.of(stack(
      "org.apache.spark.sql.DataFrameReader.parquet(DataFrameReader.scala:1)",
      "graft.Tables$.load(Tables.scala:2)",
      "graft.queries.Churn$.features(Churn.scala:3)")) == Site("tables", ""))
    // helper packages defer to their caller
    assert(Site.of(stack(
      "graft.util.Cols$.dec(Cols.scala:1)",
      "graft.llm.Dedup$.$anonfun$canonicalKeep$1(Dedup.scala:2)")) == Site("llm", ""))
    assert(Site.of(stack("churnbench.Main$.noop(Main.scala:1)")) == Site.unknown)
    assert(Site.layerOf("graft.io.Sinks$$$Lambda/0x0000000801234567") == Some("io"))
  }

  test("listener: a trainEval call's jobs land in ml (fit, persist, score) and eval") {
    val dir = Files.createTempDirectory("churnbench-spec")
    val gen = Seq("gen.py", "churnbench/gen.py").map(new java.io.File(_)).find(_.isFile).get
    val rc = new ProcessBuilder("python3", gen.getPath, dir.toString, "7", "0.001")
      .inheritIO().start().waitFor()
    assert(rc == 0)
    val spark = Sessions.local("churnbench-spec")
    try {
      val sc = spark.sparkContext
      val tracer = new Tracer(e => if (e.startsWith("ml.")) Some("ml") else None)
      sc.addSparkListener(tracer)
      sc.setJobGroup("ml.gbt/build/1", "build", interruptOnCancel = false)
      ChurnML.trainEval(spark, dir.toString, "gbt", gbtIter = 2).collect()
      sc.clearJobGroup()
      BenchBus.drain(sc)
      val sites = tracer.jobs.values.map(_.site).toSeq
      assert(tracer.jobs.values.forall(_.group == "ml.gbt/build/1"))
      assert(Set("fit", "persist", "score").subsetOf(
        sites.filter(_.layer == "ml").map(_.kind).toSet), sites)
      assert(sites.count(_.layer == "eval") > 0, sites)
      assert(sites.forall(s => Set("ml", "eval", "tables")(s.layer)), sites)
      val l = Layers.of(tracer).render
      assert(l.contains("\"ml.fit_jobs.gbt\":") && !l.contains("\"ml.fit_jobs.gbt\":0"), l)
    } finally {
      spark.stop()
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }
}
