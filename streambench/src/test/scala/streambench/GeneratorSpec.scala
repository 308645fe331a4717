package streambench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val workRoot = java.nio.file.Paths.get("target", "test-work").toAbsolutePath

  private def params(workload: String, seed: Long, name: String, trace: Boolean = false) =
    Main.Params(workload, seed, seconds = 1, trace = trace,
      work = workRoot.resolve(name), out = workRoot.resolve(s"$name-out"))

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  /** Every regular file under `root`, relative path → bytes. */
  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally st.close()
  }

  private def written(workload: String, seed: Long, name: String): (Main.Input, Map[String, Seq[Byte]]) = {
    val p = params(workload, seed, name)
    deleteTree(p.work)
    val in = new Main.Input(p, Workloads(workload), 6)
    in.write()
    (in, tree(p.work))
  }

  Workloads.all.foreach { w =>
    test(s"$w: the same seed writes byte-identical input and expected state") {
      val (a, fa) = written(w, 42, s"$w-a")
      val (b, fb) = written(w, 42, s"$w-b")
      assert(fa.keySet == fb.keySet)
      assert(fa.nonEmpty)
      fa.foreach { case (k, v) => assert(fb(k) == v, s"$k differs") }
      (a.gen, b.gen) match {
        case (x: HotUpdates.HotGen, y: HotUpdates.HotGen) =>
          assert(x.model.lww.toSeq == y.model.lww.toSeq)
          assert(x.model.sums.toSeq == y.model.sums.toSeq)
        case _ => ()
      }
      val (_, fc) = written(w, 43, s"$w-c")
      assert(fc.exists { case (k, v) => fa.get(k).exists(_ != v) },
        "another seed must give other input")
    }
  }

  test("curate_text plants copies of earlier originals in the original's partition") {
    val g = CurateText.gen(7)
    val recs = (0L until 3000L).map { i => val r = g.next(i); (i, r, g.lastKind) }
    val byIndex = recs.map(x => x._1 -> x._2).toMap
    recs.foreach {
      case (i, r, CurateText.Exact(of)) =>
        assert(of < i && byIndex(of).value == r.value && byIndex(of).partition == r.partition)
        assert(byIndex(of).offset < r.offset)
      case (i, r, CurateText.Near(of, edits)) =>
        assert(of < i && edits >= 1 && byIndex(of).partition == r.partition)
      case _ => ()
    }
    assert(recs.exists(_._3.isInstanceOf[CurateText.Exact]))
    assert(recs.exists(_._3 == CurateText.OffDomain))
  }

  test("hot_updates never gives one key two records in the same millisecond") {
    val g = HotUpdates.gen(9)
    val seen = scala.collection.mutable.Set[(String, Long)]()
    (0L until 50000L).foreach { i =>
      val r = g.next(i)
      assert(seen.add(r.key -> Math.floorDiv(r.tsMicros, 1000L)), s"record $i")
    }
  }

  test("the timed path reads only the generated files") {
    val p = params("hot_updates", 5, "hot-timed")
    deleteTree(p.work)
    val wl = Workloads(p.workload)
    val warm = 0 until wl.filesPerBatch
    val open = wl.filesPerBatch until wl.filesPerBatch + 2
    val in = new Main.Input(p, wl, open.end)
    in.write()
    val spark = Main.session(p, 1)
    try {
      val (rig, _) = Main.setup(spark, in, "rig", warm)
      open.foreach(f => Main.publish(in, f, rig))
      rig.query.processAllAvailable()
      // the query's only source is the rig's source directory …
      val sources = rig.query.lastProgress.sources.map(_.description)
      assert(sources.length == 1)
      assert(sources.head.contains(rig.src.toString), sources.head)
      // … and every file it read is one the generator staged
      val log = rig.fileBatches()
      val generated = (0 until open.end).map(Main.fileName).toSet
      assert(log.keySet == (warm ++ open).map(Main.fileName).toSet)
      assert(log.keySet.subsetOf(generated))
      rig.stop()
      val check = Check(spark, in, rig, open.end)
      assert(check.ok, check.notes.mkString("; "))
    } finally spark.stop()
  }
}
