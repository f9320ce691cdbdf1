package graft.pipeline

import graft.ops.Hashing.splitmix64
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic conversation transcripts (FIXTURES.md §1): seeded
  * templates over a closed vocabulary with PERSON / ORGANIZATION / LOCATION
  * surface forms (multi-token names, titles, parens/quotes for the tokenizer
  * normalization paths, month/day words for timex normalization), plus
  * O-filler and tool-call turns. Every value is a pure function of
  * (seed, convId, turnIdx) via splitmix64 — no java.util.Random state — so the
  * table is reproducible at any scale and parallelism (the generator runs as a
  * `spark.range(n).flatMap`, embarrassingly parallel, no shuffle).
  */
object Transcripts {

  // ---- deterministic hashing ----
  private def h(seed: Long, a: Long, b: Long, c: Long): Long =
    splitmix64(splitmix64(splitmix64(seed ^ 0x5851f42d4c957f2dL) ^ a * 0x100000001b3L) ^ b * 31L + c)
  private def pick[T](xs: IndexedSeq[T], r: Long): T = xs(((r >>> 8) % xs.length).toInt.abs)

  // ---- closed vocabulary ----
  val firstNames: IndexedSeq[String] = Vector("Alice", "Bob", "Carla", "David", "Elena", "Frank",
    "Grace", "Hiro", "Ines", "James", "Katya", "Liam", "Maria", "Noah", "Olga", "Pedro",
    "Quinn", "Rosa", "Sam", "Tara", "Umar", "Vera", "Walt", "Xena", "Yuri", "Zoe")
  val lastNames: IndexedSeq[String] = Vector("Johnson", "Smith", "Garcia", "Chen", "Patel",
    "Novak", "Okafor", "Silva", "Kim", "Dubois", "Rossi", "Tanaka", "Weber", "Larsen",
    "Moreau", "Ivanov", "Haddad", "Costa", "Nakamura", "Olsen")
  val titles: IndexedSeq[String] = Vector("Dr.", "Mr.", "Ms.", "Prof.")
  val orgBases: IndexedSeq[String] = Vector("Acme", "Globex", "Initech", "Umbrella", "Vandelay",
    "Wayne", "Stark", "Cyberdyne", "Tyrell", "Wonka", "Hooli", "Aperture", "Nexus", "Orbit",
    "Quantum", "Vertex", "Zenith", "Pinnacle", "Cascade", "Meridian")
  val orgSuffixes: IndexedSeq[String] = Vector("Corp.", "Inc.", "Systems", "Labs", "Group",
    "Holdings", "Analytics", "Dynamics")
  val locations: IndexedSeq[String] = Vector("Berlin", "Tokyo", "Lagos", "Lima", "Oslo",
    "Madrid", "Toronto", "Mumbai", "Cairo", "Seoul", "Dublin", "Prague", "Nairobi", "Boston",
    "Geneva", "Sydney", "Austin", "Porto", "Kyoto", "Malmo")
  val weekdays: IndexedSeq[String] = Vector("Monday", "Tuesday", "Wednesday", "Thursday", "Friday")

  final case class Slot(words: Seq[String], label: String)

  private def person(r: Long): Slot = {
    val f = pick(firstNames, r); val l = pick(lastNames, splitmix64(r))
    if ((r & 7) == 0) Slot(Seq(pick(titles, r >>> 3), f, l), "PERSON")
    else Slot(Seq(f, l), "PERSON")
  }
  private def org(r: Long): Slot = {
    val base = pick(orgBases, r)
    if ((r & 3) == 0) Slot(Seq(base, pick(orgBases, splitmix64(r)), pick(orgSuffixes, r >>> 5)), "ORGANIZATION")
    else Slot(Seq(base, pick(orgSuffixes, r >>> 5)), "ORGANIZATION")
  }
  private def loc(r: Long): Slot = Slot(Seq(pick(locations, r)), "LOCATION")
  private def day(r: Long): Slot = Slot(Seq(pick(weekdays, r)), "O")

  /** Templates: "P"=person, "G"=org, "L"=location, "D"=weekday; other tokens
    * are literal filler (label O). Chosen to exercise the predicate-trigger
    * vocabulary of TripleRules plus plain co-occurrence and no-entity turns.
    */
  private[graft] val templates: IndexedSeq[Seq[String]] = Vector(
    Seq("P", "works", "at", "G", "in", "L", "."),
    Seq("P", "visited", "L", "on", "D", "."),
    Seq("G", "opened", "an", "office", "in", "L", "."),
    Seq("P", "met", "P", "at", "L", "yesterday", "."),
    Seq("P", "joined", "G", "last", "year", "."),
    Seq("G", "acquired", "G", "for", "5", "billion", "dollars", "."),
    Seq("P", "from", "G", "called", "about", "the", "contract", "."),
    Seq("the", "team", "at", "G", "shipped", "a", "new", "release", "."),
    Seq("P", "traveled", "to", "L", "via", "L", "."),
    Seq("did", "P", "leave", "G", "?"),
    Seq("P", "-LRB-", "of", "G", "-RRB-", "spoke", "in", "L", "."),
    Seq("the", "report", "mentions", "G", "and", "L", "twice", "."),
    Seq("the", "deployment", "failed", "twice", "before", "lunch", "."),
    Seq("can", "you", "check", "the", "logs", "?"),
    Seq("ok", ",", "rerun", "the", "pipeline", "with", "more", "memory", "."),
    Seq("P", "said", "``", "ship", "it", "''", "on", "D", "."))

  /** Render one turn: (words, labels). Pure in (seed, convId, turnIdx). */
  def turnTokens(seed: Long, convId: Long, turnIdx: Int): (Vector[String], Vector[String]) = {
    val r0 = h(seed, convId, turnIdx.toLong, 0L)
    val tpl = pick(templates, r0)
    val words = Vector.newBuilder[String]
    val labels = Vector.newBuilder[String]
    var slotIdx = 0
    for (t <- tpl) {
      val slot: Option[Slot] = t match {
        case "P" => Some(person(h(seed, convId, turnIdx.toLong, 100L + slotIdx)))
        case "G" => Some(org(h(seed, convId, turnIdx.toLong, 100L + slotIdx)))
        case "L" => Some(loc(h(seed, convId, turnIdx.toLong, 100L + slotIdx)))
        case "D" => Some(day(h(seed, convId, turnIdx.toLong, 100L + slotIdx)))
        case _   => None
      }
      slot match {
        case Some(s) =>
          slotIdx += 1
          for (w <- s.words) { words += w; labels += s.label }
        case None => words += t; labels += "O"
      }
    }
    (words.result(), labels.result())
  }

  /** Detokenize to turn text such that Tokenizer.tokenize(text) round-trips to
    * the same words (asserted by TranscriptsSpec).
    */
  def detokenize(words: Seq[String]): String = {
    val sb = new StringBuilder
    var prev: String = null
    for (w <- words) {
      val noSpaceBefore = Set(".", ",", "?", "!", ";", ":", "''", "-RRB-", "-RSB-", "n't").contains(w) || w.startsWith("'")
      val noSpaceAfterPrev = prev == "``" || prev == "-LRB-" || prev == "-LSB-"
      if (prev != null && !noSpaceBefore && !noSpaceAfterPrev) sb.append(' ')
      w match {
        case "-LRB-" => sb.append('(')
        case "-RRB-" => sb.append(')')
        case "-LSB-" => sb.append('[')
        case "-RSB-" => sb.append(']')
        case "``"    => sb.append('"')
        case "''"    => sb.append('"')
        case _       => sb.append(w)
      }
      prev = w
    }
    sb.toString
  }

  def numTurns(seed: Long, convId: Long): Int = 2 + (h(seed, convId, -1, 0) >>> 16).toInt.abs % 6

  def isToolTurn(seed: Long, convId: Long, turnIdx: Int): Boolean =
    (h(seed, convId, turnIdx.toLong, 777L) & 15) == 0

  /** Full deterministic turn row. */
  def turn(seed: Long, convId: Long, turnIdx: Int): Turn = {
    val conv = f"conv$convId%08d"
    val role = if (turnIdx % 2 == 0) "user" else "assistant"
    val ts = new Timestamp(1700000000000L + convId * 3600000L + turnIdx * 60000L)
    if (isToolTurn(seed, convId, turnIdx))
      Turn(conv, turnIdx, "tool", "", "search", ts)
    else {
      val (words, _) = turnTokens(seed, convId, turnIdx)
      Turn(conv, turnIdx, role, detokenize(words), null, ts)
    }
  }

  /** The transcript table as a Dataset — the sandbox stand-in for
    * `spark.read.format("iceberg").load("transcripts")`.
    */
  def synth(spark: SparkSession, nConvs: Long, seed: Long = 42L): Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs).flatMap { convId =>
      (0 until numTurns(seed, convId)).map(t => turn(seed, convId, t))
    }
  }

  /** Gold-labeled turns for training/eval (skips tool turns). */
  def synthGold(spark: SparkSession, nConvs: Long, seed: Long = 42L): Dataset[GoldTurn] = {
    import spark.implicits._
    spark.range(nConvs).flatMap { convId =>
      (0 until numTurns(seed, convId)).iterator
        .filterNot(t => isToolTurn(seed, convId, t))
        .map { t =>
          val (words, labels) = turnTokens(seed, convId, t)
          GoldTurn(f"conv$convId%08d", t, words, labels)
        }
    }
  }
}
