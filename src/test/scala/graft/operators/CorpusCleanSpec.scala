package graft.operators

import graft.{StageBuilds, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics + plan-shape checks for the corpus-cleaning pass (exactness
  * vs DuckDB is the Verify gate's job). */
class CorpusCleanSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("kAnonymity ≡ an independent driver-side replay; verdict rule sound") {
    val docs = graft.Tables.documents(s, sf)
      .select(col("lang"), col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val fine = docs.groupBy { case (l, src, n) => (l, src, n / 100) }
      .view.mapValues(_.length.toLong).toMap
    // generalized size = docs whose own FINE class fails (< k): released
    // classes ship at fine granularity and never enter the published
    // cell; the ladder widens the bucket x4 and KEEPS source
    val wide = docs.groupBy { case (l, src, n) => (l, src, n / 400) }
      .view.mapValues(_.count { case (l, src, n) => fine((l, src, n / 100)) < 5 }.toLong)
      .toMap
    val out = CorpusClean.kAnonymity(s, sf).collect()
    assert(out.length == fine.size, "one ledger row per fine QI class")
    // every document lands in exactly one ledger row
    assert(out.map(_.getLong(3)).sum == docs.length)
    out.foreach { r =>
      val key = (r.getString(0), r.getString(1), r.getLong(2))
      val gKey = (key._1, key._2, key._3 / 4)
      assert(r.getLong(3) == fine(key), s"$key: wrong class size")
      assert(r.getLong(4) == wide(gKey), s"$key: wrong generalized size")
      val expect =
        if (r.getLong(3) >= 5) "release"
        else if (r.getLong(4) >= 5) "generalize"
        else "suppress"
      assert(r.getString(5) == expect, s"$key: wrong action")
    }
    // all three rungs of the ladder must fire on this corpus
    val actions = out.map(_.getString(5)).toSet
    assert(actions == Set("release", "generalize", "suppress"),
      s"fixture exercises only $actions — a ladder rung is dead")
  }

  test("lineDedup drops shared lines, keeps untouched docs verbatim") {
    val heavy = CorpusClean.heavyLines(s, sf).collect().map(_.getString(0)).toSet
    val out = CorpusClean.lineDedup(s, sf).cache()
    val docs = graft.Tables.documents(s, sf)
      .select(col("doc_id"), col("text"))
    try {
      // some boilerplate must exist in the corpus, and it must be dropped
      assert(heavy.nonEmpty, "corpus has no shared lines — threshold never exercised")
      assert(out.filter(col("n_dropped") > 0).count() > 0)
      heavy.foreach(l => assert(!l.isEmpty))
      out.join(docs, "doc_id").collect().foreach { r =>
        val (clean, orig) = (r.getAs[String]("clean_text"), r.getAs[String]("text"))
        // independent re-implementation: segment, drop heavy, reassemble
        val segs = orig.split(" ").grouped(8).map(_.mkString(" ")).toSeq
        val expected = segs.filterNot(heavy.contains).mkString(" ")
        assert(clean == expected, s"doc ${r.get(0)}: got '$clean', expected '$expected'")
        assert(r.getAs[Int]("n_dropped") == segs.count(heavy.contains))
        if (r.getAs[Int]("n_dropped") == 0) assert(clean == orig)
      }
      // every doc is present (tombstones included)
      assert(out.count() == docs.count())
    } finally { out.unpersist(); () }
  }

  test("lineDedup probe side broadcasts the heavy set — corpus lines never shuffle for the anti-join") {
    val plan = CorpusClean.lineDedup(s, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"heavy-line anti-join must broadcast the tiny side:\n$plan")
  }

  test("piiRedact output carries no matchable PII; counts follow the injection rule") {
    val rows = CorpusClean.piiRedact(s, sf).collect()
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}".r
    val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}".r
    val phone = "\\+1-555-\\d{4}".r
    rows.foreach { r =>
      val (id, clean) = (r.getLong(0), r.getAs[String]("clean_text"))
      assert(email.findFirstIn(clean).isEmpty, s"email survived in doc $id")
      assert(ip.findFirstIn(clean).isEmpty, s"ip survived in doc $id")
      assert(phone.findFirstIn(clean).isEmpty, s"phone survived in doc $id")
      val (ne, ni, np) = (r.getAs[Int]("n_emails"), r.getAs[Int]("n_ips"), r.getAs[Int]("n_phones"))
      id % 3 match {
        case 0 => assert(ne == 1 && ni == 1 && np == 0, s"doc $id: ($ne,$ni,$np)")
        case 1 => assert(ne == 0 && ni == 0 && np == 1, s"doc $id: ($ne,$ni,$np)")
        case _ => assert(ne == 0 && ni == 0 && np == 0, s"doc $id: ($ne,$ni,$np)")
      }
      // redaction markers actually landed
      if (id % 3 == 0) assert(clean.contains("<EMAIL>") && clean.contains("<IP>"))
      if (id % 3 == 1) assert(clean.contains("<PHONE>"))
    }
  }

  test("mixtureSample hits the target mixture: capped sources keep everything, others thin out") {
    val docs = graft.Tables.documents(s, sf)
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perSource.values.sum
    val target = total / 2
    val sampled = CorpusClean.mixtureSample(s, sf).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def weight(src: String): Double = {
      val i = src.stripPrefix("src").toInt
      if (i < 4) 0.10 else if (i < 10) 0.06 else 0.024
    }
    perSource.foreach { case (src, n) =>
      val rate = math.min(1.0, target * weight(src) / n)
      val got = sampled.getOrElse(src, 0L)
      if (rate >= 1.0) assert(got == n, s"$src: capped source must keep all ($got of $n)")
      else {
        // md5-uniform: binomial tolerance, generous for small n
        val exp = rate * n
        assert(math.abs(got - exp) <= math.max(4.0, 4 * math.sqrt(exp)),
          s"$src: expected ≈$exp, got $got")
      }
    }
  }

  test("mixtureSample acceptance is a narrow filter — no shuffle of the corpus side") {
    val plan = CorpusClean.mixtureSample(s, sf).queryExecution.sparkPlan.toString
    // the only joins are broadcasts of the tiny rate/total aggregates
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle into the rates join:\n$plan")
  }

  test("dsir ≡ an independent in-memory reimplementation; selection is discriminative") {
    val B = 1024
    val Fx = 1048576L
    def hex8(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(text.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val raw = graft.Tables.documents(s, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = raw.flatMap { case (id, lang, text) =>
      val ws = text.split(" ", -1)
      ws.sliding(2).filter(_.length == 2)
        .map(p => (id, lang, (hex8("g_" + p(0) + "_" + p(1)) % B).toInt))
    }
    val np = Array.fill(B)(1L); val nq = Array.fill(B)(1L)
    toks.foreach { case (_, lang, b) =>
      if (lang == "en") np(b) += 1
      nq(b) += 1
    }
    val (tp, tq) = (np.sum, nq.sum)
    val pfx = np.map(_ * Fx / tp); val qfx = nq.map(_ * Fx / tq)
    val scores = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ((ts.length.toLong,
        ts.iterator.map { case (_, _, b) => pfx(b) - qfx(b) }.sum))
    }
    val (tn, tscore) = (scores.values.map(_._1).sum, scores.values.map(_._2).sum)
    val expected = scores.map { case (id, (n, sc)) =>
      id -> ((n, sc, if (sc * tn > tscore * n) 1 else 0))
    }
    val got = CorpusClean.dsir(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got.keySet == expected.keySet, "doc coverage differs")
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: engine ${got(id)} vs reimplementation $e")
    }
    // the selection must discriminate: target-language docs skew kept,
    // every other language skews dropped
    val langOf = raw.map(t => t._1 -> t._2).toMap
    def keepRate(lang: String): Double = {
      val ids = expected.keys.filter(langOf(_) == lang)
      ids.count(expected(_)._3 == 1).toDouble / ids.size
    }
    assert(keepRate("en") > 0.8, s"en keep rate ${keepRate("en")} not high")
    Seq("de", "es", "fr", "zh").foreach { l =>
      assert(keepRate(l) < 0.4, s"$l keep rate ${keepRate(l)} not low")
    }
  }

  test("dsir featurization is staged build-once; the probe never re-explodes the corpus") {
    CorpusClean.ensureDsirStaged(s, sf)
    val builds = StageBuilds(CorpusClean.dsirStageDir(sf))
    val df = CorpusClean.dsir(s, sf)
    df.collect()
    assert(StageBuilds(CorpusClean.dsirStageDir(sf)) == builds,
      "a dsir probe rebuilt the staged featurization")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dsir_b"), s"probe does not read the staged counts:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"probe re-explodes the corpus:\n$plan")
  }
}
