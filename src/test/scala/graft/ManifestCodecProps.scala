package graft

import java.nio.file.{Files, Paths}

import graft.streaming.LakeSink
import graft.streaming.LakeSink._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

/** The manifest codec as properties: what a snapshot or a delta
  * encodes is what reading it back decodes, and what the format cannot
  * carry is refused before the CAS instead of committed.
  *
  * Equality is modulo the documented normalisations: per-segment maps
  * (stats, dv, parts, segRows) keep only live segments, gate minimums
  * are raised to what the state requires (and, for [[commitNext]], to
  * the parent's), and [[commitNext]] records a row count for an added
  * segment from its partition fact when the caller carried none. */
object ManifestCodecProps extends Properties("graft.manifestCodec") {

  // A fixed initial seed, not `useSeed` on each property: `useSeed`
  // restarts every case from the same seed, so only the size varies.
  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(200)
      .withInitialSeed(org.scalacheck.rng.Seed(71L))

  /** `f` on a fresh lake directory, deleted afterwards. */
  private def inDir[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft_codec_props").toFile
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  // ---- generators ------------------------------------------------------

  private val ident: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(4, Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
  } yield (h :: t).mkString

  private val segName: Gen[String] = ident.map("seg_" + _)

  /** Text with the characters the format must carry inside a field
    * or a base64 payload: `|`, `=`, non-ASCII, a surrogate pair. */
  private val wild: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("|", "=", "é", "漢", "😀", " ", ",", "'", "\\"))
  ).map(_.take(12).mkString)

  private val colStat: Gen[ColStat] = Gen.oneOf(
    for {
      lo <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      hi <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      n <- Gen.chooseNum(-1L, 50L)
    } yield LongStat(lo, hi, n),
    for {
      lo <- Gen.oneOf(wild, Gen.const("a\nb")); hi <- wild
      n <- Gen.chooseNum(-1L, 50L)
    } yield StrStat(lo, hi, n))

  private val partValue: Gen[Option[String]] =
    Gen.option(wild.suchThat(_.nonEmpty))

  private val partVal: Gen[PartVal] = for {
    c <- ident; v <- partValue; rows <- Gen.chooseNum(0L, 1000L)
    subs <- Gen.listOfN(2, Gen.zip(ident, partValue)).flatMap(Gen.someOf(_))
  } yield PartVal(c, v, rows, subs.toList)

  private def perSeg[V](segs: Seq[String], v: Gen[V]): Gen[Map[String, V]] =
    Gen.sequence[List[Option[(String, V)]], Option[(String, V)]](
      segs.map(s => Gen.option(v.map(s -> _)))).map(_.flatten.toMap)

  private val schemaJson: Gen[String] =
    wild.map(w => s"""{"type":"struct","note":"$w"}""")

  /** A manifest at `version`; `dead` names segments that per-segment
    * maps may mention without them being live. */
  private def manifest(version: Long, segs: Seq[String],
      dead: Seq[String]): Gen[Manifest] = for {
    maxB <- Gen.chooseNum(-1L, 1000L)
    schemaV <- Gen.chooseNum(0L, 3L)
    sj <- Gen.option(schemaJson)
    stats <- perSeg(segs ++ dead, Gen.mapOfN(3, Gen.zip(ident, colStat)))
    txns <- Gen.mapOfN(3,
      Gen.zip(ident.map(_ + "-app"), Gen.chooseNum(0L, 99L)))
    expects <- Gen.mapOfN(3,
      Gen.zip(ident, wild.map(w => s"v > 0 OR s = '$w'")))
    cdc <- Gen.listOfN(2, segName).flatMap(Gen.someOf(_))
    dataChange <- Gen.oneOf(true, false)
    dv <- perSeg(segs ++ dead,
      Gen.zip(ident, Gen.chooseNum(1L, 99L)).map { case (f, n) => DvRef(f, n) })
    colmap <- Gen.oneOf(Gen.const(Map.empty[String, String]),
      Gen.mapOfN(3, Gen.zip(ident, ident)))
    partSpec <- Gen.option(Gen.listOfN(2, ident).map(_.mkString(",")))
    parts <- perSeg(segs ++ dead, partVal)
    cdcDrop <- Gen.listOfN(1, segName).flatMap(Gen.someOf(_))
    bloom <- Gen.listOfN(2, ident).flatMap(Gen.someOf(_))
    copied <- Gen.listOf(Gen.hexStr.map(_.take(8))).map(_.take(4).toSet)
    minReader <- Gen.chooseNum(1L, supportedReader)
    minWriter <- Gen.chooseNum(1L, supportedWriter)
    segRows <- perSeg(segs ++ dead, Gen.chooseNum(0L, 10000L))
  } yield Manifest(version, maxB, segs, schemaV, sj, stats, txns, expects,
    cdc.toList, dataChange, dv, colmap, partSpec, parts, cdcDrop.toList,
    bloom.toList, copied, minReader, minWriter, segRows)

  private val distinctSegs: Gen[List[String]] =
    Gen.listOfN(8, segName).map(_.distinct)

  private val snapshotCase: Gen[Manifest] = for {
    all <- distinctSegs
    n <- Gen.chooseNum(0, all.size)
    v <- Gen.chooseNum(1L, 100L)
    m <- manifest(v, all.take(n), all.drop(n))
  } yield m

  /** (parent, child): the child keeps a subsequence of the parent's
    * segments and appends new ones; every per-segment entry of a
    * surviving segment is kept, changed, or (when absent) maybe added;
    * the schema changes with or without a generation bump. Parent at
    * v1 (child is a delta) or v31 (child lands on the snapshot). */
  private val deltaCase: Gen[(Manifest, Manifest)] = for {
    all <- Gen.listOfN(12, segName).map(_.distinct)
    (pSegs, fresh) = all.splitAt(all.size / 2)
    pv <- Gen.oneOf(1L, snapshotInterval - 1L)
    parent <- manifest(pv, pSegs, Nil)
    keep <- Gen.sequence[List[Boolean], Boolean](
      pSegs.map(_ => Gen.oneOf(true, false)))
    nAdd <- Gen.chooseNum(0, fresh.size)
    segs = pSegs.zip(keep).collect { case (s, true) => s } ++ fresh.take(nAdd)
    fresh0 <- manifest(pv + 1, segs, pSegs)
    schema <- Gen.oneOf("same", "json", "bump", "both")
    sj <- schemaJson
  } yield {
    def merge[V](p: Map[String, V], f: Map[String, V]): Map[String, V] =
      p ++ f // fresh entries win; parent entries of live segs survive
    val (sv, json) = schema match {
      case "same" => (parent.schemaV, parent.schemaJson)
      case "json" => (parent.schemaV, Some(sj))
      case "bump" => (parent.schemaV + 1, parent.schemaJson)
      case _ => (parent.schemaV + 1, Some(sj))
    }
    parent -> fresh0.copy(schemaV = sv, schemaJson = json,
      stats = merge(parent.stats, fresh0.stats),
      dv = merge(parent.dv, fresh0.dv),
      parts = merge(parent.parts, fresh0.parts),
      segRows = merge(parent.segRows, fresh0.segRows),
      copied = parent.copied ++ fresh0.copied,
      minReader = math.max(parent.minReader, fresh0.minReader),
      minWriter = math.max(parent.minWriter, fresh0.minWriter))
  }

  // ---- normalisation ---------------------------------------------------

  private def normalised(m: Manifest): Manifest = {
    val live = m.segs.toSet
    def onLive[V](x: Map[String, V]) = x.filter { case (s, _) => live(s) }
    m.copy(stats = onLive(m.stats), dv = onLive(m.dv),
      parts = onLive(m.parts), segRows = onLive(m.segRows),
      minReader = math.max(m.minReader,
        if (m.dv.nonEmpty || m.colmap.nonEmpty) 2L else 1L),
      minWriter = math.max(m.minWriter,
        if (m.copied.nonEmpty) 3L
        else if (m.dv.nonEmpty || m.expects.nonEmpty) 2L else 1L))
  }

  private def committedChild(parent: Manifest, m: Manifest): Manifest = {
    val added = m.segs.filterNot(parent.segs.toSet)
    normalised(m.copy(segRows = m.segRows ++ added.flatMap(s =>
      m.segRows.get(s).orElse(m.parts.get(s).map(_.rows)).map(s -> _)),
      minReader = math.max(parent.minReader, m.minReader),
      minWriter = math.max(parent.minWriter, m.minWriter)))
  }

  // ---- round trips -----------------------------------------------------

  property("snapshotRoundTrip") = forAll(snapshotCase) { m =>
    inDir { dir =>
      LakeSink.commitManifest(dir, m) &&
        LakeSink.manifestAt(dir, m.version) == normalised(m)
    }
  }

  property("deltaRoundTrip") = forAll(deltaCase) { case (p0, m) =>
    inDir { dir =>
      LakeSink.commitManifest(dir, p0)
      val parent = LakeSink.manifestAt(dir, p0.version)
      val ok = LakeSink.commitNext(dir, parent, m)
      val got = LakeSink.manifestAt(dir, m.version)
      val want = committedChild(parent, m)
      Prop(ok && got == want) :| s"committed $ok\n got  $got\n want $want"
    }
  }

  // ---- refusals: nothing reaches the log -------------------------------

  /** One edit the format cannot carry, named by the field it breaks. */
  private val badField: Gen[(String, Manifest => Manifest)] = Gen.oneOf(
    ("colmap", (m: Manifest) => m.copy(colmap = Map("a|b" -> "vc"))),
    ("colmap", (m: Manifest) => m.copy(colmap = Map("vc" -> "p|q"))),
    ("txn", (m: Manifest) => m.copy(txns = Map("app|x" -> 1L))),
    ("expectation name",
      (m: Manifest) => m.copy(expects = Map("n|m" -> "vc > 0"))),
    ("expectation SQL",
      (m: Manifest) => m.copy(expects = Map("n" -> "vc > 0\nOR true"))),
    ("bloom column", (m: Manifest) => m.copy(bloomCols = Seq("a|b"))),
    ("segment name", (m: Manifest) => m.copy(segs = m.segs :+ "seg=a")),
    ("segment name", (m: Manifest) => m.copy(segs = m.segs :+ "seg|a")),
    ("segment name", (m: Manifest) => m.copy(segs = m.segs :+ "")),
    ("stats column", (m: Manifest) => m.copy(segs = m.segs :+ "seg_s",
      stats = m.stats + ("seg_s" -> Map("c|d" -> LongStat(1L, 2L))))),
    ("dv file", (m: Manifest) => m.copy(segs = m.segs :+ "seg_d",
      dv = m.dv + ("seg_d" -> DvRef("f|g", 1L)))),
    ("partition column", (m: Manifest) => m.copy(segs = m.segs :+ "seg_p",
      parts = m.parts + ("seg_p" -> PartVal("c|d", Some("x"), 1L)))),
    ("partition value", (m: Manifest) => m.copy(segs = m.segs :+ "seg_p",
      parts = m.parts + ("seg_p" -> PartVal("c", Some(""), 1L)))),
    ("partition spec", (m: Manifest) => m.copy(partSpec = Some("a\nb"))),
    ("schema", (m: Manifest) => m.copy(schemaV = m.schemaV + 1,
      schemaJson = Some("{\n}"))),
    ("cdc segment", (m: Manifest) => m.copy(cdcSegs = Seq("seg\rx"))),
    ("copy id", (m: Manifest) => m.copy(copied = m.copied + "id\nx")))

  /** Edits of a no-op child only a delta could not express — refused
    * by [[commitNext]] whichever record kind the version lands on. */
  private val badEdit: Gen[(String, Manifest => Manifest)] = Gen.oneOf(
    ("stats entry", (c: Manifest) => c.copy(stats = Map.empty)),
    ("dv entry", (c: Manifest) => c.copy(dv = Map.empty)),
    ("part entry", (c: Manifest) => c.copy(parts = Map.empty)),
    ("segrows entry", (c: Manifest) => c.copy(segRows = Map.empty)),
    ("reorders", (c: Manifest) => c.copy(segs = c.segs.reverse)),
    ("clears the recorded schema",
      (c: Manifest) => c.copy(schemaJson = None)),
    ("COPY INTO ledger", (c: Manifest) => c.copy(copied = Set.empty)))

  private def refused(dir: String, name: String)(commit: => Boolean): Prop = {
    val before = LakeSink.readManifest(dir).version
    val files = Files.list(Paths.get(dir, "_manifest"))
    val nFiles = try files.count() finally files.close()
    val err = try { commit; None } catch {
      case e: IllegalArgumentException => Some(e.getMessage)
    }
    val after = Files.list(Paths.get(dir, "_manifest"))
    val nAfter = try after.count() finally after.close()
    Prop(err.exists(_.contains(name)) &&
      LakeSink.readManifest(dir).version == before && nAfter == nFiles) :|
      s"expected a refusal naming '$name', got $err"
  }

  property("refusesUncarryableFields") = forAll(deltaCase, badField,
    Gen.oneOf(true, false)) { case ((p0, m), (name, breakIt), asDelta) =>
    inDir { dir =>
      LakeSink.commitManifest(dir, p0)
      val parent = LakeSink.manifestAt(dir, p0.version)
      refused(dir, name) {
        if (asDelta) LakeSink.commitNext(dir, parent, breakIt(m))
        else LakeSink.commitManifest(dir, breakIt(m))
      }
    }
  }

  property("refusesInexpressibleEdits") = forAll(snapshotCase, badEdit) {
    case (p0, (name, breakIt)) => inDir { dir =>
      LakeSink.commitManifest(dir, p0.copy(segs = Seq("seg_x1", "seg_x2"),
        schemaJson = Some("{}"), copied = Set("c0"),
        stats = Map("seg_x1" -> Map("k" -> LongStat(1L, 2L))),
        dv = Map("seg_x1" -> DvRef("dvf", 1L)),
        parts = Map("seg_x1" -> PartVal("k", None, 3L)),
        segRows = Map("seg_x1" -> 3L)))
      val parent = LakeSink.manifestAt(dir, p0.version)
      refused(dir, name) {
        LakeSink.commitNext(dir, parent,
          breakIt(parent.copy(version = parent.version + 1)))
      }
    }
  }
}
