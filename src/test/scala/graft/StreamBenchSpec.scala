package graft

import graft.obs.Probe
import graft.tools.{Scratch, StreamBench, SynthGen}
import org.scalatest.BeforeAndAfterAll

/** The streaming bench end to end on RecallSamplerSpec's fixture
  * corpus (sf 0.02: 1,000 docs, 400 embeddings): every path runs from
  * the storage slices without error, every input row arrives exactly
  * once, and the at-rest state curves come back from the committed
  * `__batch_id` partitions. */
class StreamBenchSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val probe = Probe.attach(spark)

  override def afterAll(): Unit = try probe.detach() finally super.afterAll()

  private lazy val run = {
    val dir = Scratch.dir("graft_streambench_spec")
    SynthGen.generate(spark, dir, 0.02)
    StreamBench.measure(spark, dir, Scratch.dir("graft_streambench_slices"), probe)
  }

  private val docPaths = Seq("dedup_doc", "dedup_doc_bounded", "decontaminate",
    "dsir_score", "domain_cap", "ngram_dedup", "curation")

  private def path(name: String) = run.paths.find(_.name == name).get

  test("all nine paths run from storage slices without error") {
    assert(run.paths.map(_.name).sorted ==
      (docPaths :+ "semantic_decontaminate" :+ "semantic_dedup").sorted)
    run.paths.foreach { p =>
      assert(p.error.isEmpty, s"${p.name}: ${p.error}")
      assert(p.source.startsWith("FileStreamSource"), s"${p.name}: ${p.source}")
    }
    assert(run.docRows.size == 5 && run.embRows.size >= 2)
    assert(StreamBench.json(run).contains("\"at_rest_state_rows\""))
  }

  test("each path reads every row once, one slice per batch") {
    assert(run.docRows.sum == SynthGen.nDocs(0.02))
    assert(run.embRows.sum == SynthGen.nEmb(0.02))
    docPaths.foreach { name =>
      assert(path(name).batches.map(_.rows) == run.docRows, name)
    }
    Seq("semantic_decontaminate", "semantic_dedup").foreach { name =>
      assert(path(name).batches.map(_.rows) == run.embRows, name)
    }
    // Spark counts a source scan per plan leaf: a plan that reads its
    // batch twice reports twice the slice, never less
    run.paths.flatMap(_.batches).foreach { b =>
      assert(b.scannedRows % b.rows == 0 && b.scannedRows >= b.rows, b)
    }
  }

  test("at-rest state curves are non-empty and non-decreasing") {
    Seq("domain_cap", "ngram_dedup", "semantic_dedup").foreach { name =>
      val st = path(name).atRestStateRows
      assert(st.nonEmpty && st.last > 0, s"$name: $st")
      assert(st.zip(st.drop(1)).forall { case (a, b) => a <= b }, s"$name: $st")
    }
  }
}
