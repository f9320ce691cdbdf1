package graft.ner

import scala.collection.mutable

/** Gazette feature state (NERFeatureFactory gazette stuff,
  * /root/reference/src/edu/stanford/nlp/ie/NERFeatureFactory.java:675-727
  * load, :1211-1232 matching): each gazette line is `TYPE phrase...`; every
  * phrase word w gets
  *   - sloppy: feature "TYPE-GAZn" (n = phrase length) whenever w occurs;
  *   - clean: the same feature only when the WHOLE phrase matches around w
  *     (w at its in-phrase offset; matching is on the timex-FIXED word, and
  *     out-of-range positions read as "" so phrases never match padding).
  * Emitted into the C clique (suffix "|C").
  *
  * Canonical state = the two lookup maps (exactly what the reference
  * serializes inside its feature factory — wordToGazetteEntries /
  * wordToGazetteInfos — so binary bundles reconstruct losslessly even when
  * sloppy-only, where the original phrases are unrecoverable). A model with
  * a gazette encodes through the string path (`NerFeatures.featuresAt`).
  */
final class Gazette(
    val sloppy: Map[String, Array[String]], // word -> distinct "TYPE-GAZn"
    val clean: Map[String, Array[Gazette.CleanEntry]]
) extends Serializable {

  def isEmpty: Boolean = sloppy.isEmpty && clean.isEmpty

  /** Deterministic content rendering for fingerprints (sorted; every field). */
  def fingerprintParts: Iterator[String] =
    sloppy.toSeq.sortBy(_._1).iterator.map { case (w, fs) => s"s $w ${fs.mkString(",")}" } ++
      clean.toSeq.sortBy(_._1).iterator.map { case (w, es) =>
        s"c $w ${es.map(e => s"${e.loc}:${e.words.mkString(" ")}:${e.feature}").mkString(",")}"
      }
}

object Gazette {

  final case class CleanEntry(loc: Int, words: Array[String], feature: String) {
    override def equals(o: Any): Boolean = o match {
      case e: CleanEntry => loc == e.loc && feature == e.feature && words.sameElements(e.words)
      case _ => false
    }
    override def hashCode: Int = (loc, feature, words.toSeq).hashCode
  }

  val empty = new Gazette(Map.empty, Map.empty)

  private val LinePat = "^(\\S+)\\s+(.+)$".r

  /** Parse gazette lines (`TYPE phrase`) into the maps the enabled modes need
    * — mirrors readGazette (NERFeatureFactory.java:693-727); non-matching
    * lines are skipped.
    */
  def parse(lines: IterableOnce[String], sloppyMode: Boolean = true, cleanMode: Boolean = true): Gazette = {
    val sloppy = mutable.LinkedHashMap[String, mutable.LinkedHashSet[String]]()
    val clean = mutable.LinkedHashMap[String, mutable.LinkedHashSet[CleanEntry]]()
    lines.iterator.foreach {
      case LinePat(tpe, phrase) =>
        val words = phrase.split(" ")
        val feature = s"$tpe-GAZ${words.length}"
        for (i <- words.indices) {
          val w = words(i)
          if (sloppyMode) sloppy.getOrElseUpdate(w, mutable.LinkedHashSet()) += feature
          if (cleanMode) clean.getOrElseUpdate(w, mutable.LinkedHashSet()) += CleanEntry(i, words, feature)
        }
      case _ => ()
    }
    new Gazette(
      sloppy.view.mapValues(_.toArray).toMap,
      clean.view.mapValues(_.toArray).toMap)
  }

  // ---- model-file trailer (NerModel v3) ----
  // gazette\t<nSloppyWords>\t<nCleanWords>
  // <word>\t<feat>...                               x nSloppyWords
  // <word>\t<loc>\t<feat>\t<phrase>[\t<loc>...]     x nCleanWords
  // (gazette types are \S+ and phrases single-space joined: tab-safe)

  def writeTrailer(g: Gazette, w: java.io.Writer): Unit = {
    w.write(s"gazette\t${g.sloppy.size}\t${g.clean.size}\n")
    g.sloppy.foreach { case (word, fs) =>
      w.write(word); fs.foreach { f => w.write("\t"); w.write(f) }; w.write("\n")
    }
    g.clean.foreach { case (word, es) =>
      w.write(word)
      es.foreach { e => w.write(s"\t${e.loc}\t${e.feature}\t${e.words.mkString(" ")}") }
      w.write("\n")
    }
  }

  def readTrailer(header: String, r: java.io.BufferedReader): Gazette = {
    val h = header.split("\t")
    require(h(0) == "gazette", s"bad gazette trailer: $header")
    val sloppy = (0 until h(1).toInt).map { _ =>
      val parts = r.readLine().split("\t")
      parts(0) -> parts.drop(1)
    }.toMap
    val clean = (0 until h(2).toInt).map { _ =>
      val parts = r.readLine().split("\t")
      val es = parts.drop(1).grouped(3).map { t =>
        CleanEntry(t(0).toInt, t(2).split(" "), t(1))
      }.toArray
      parts(0) -> es
    }.toMap
    new Gazette(sloppy, clean)
  }
}
