package perfbench

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.model.{WorkflowDef, WorkflowEventsDef, WorkflowStepDef}
import graft.operators.RevisionPipeline.TypeMapEntry

/** Every traffic knob of the benchmark, with its default. A workload is a
  * seed plus these values; nothing else shapes the generated inputs.
  */
final case class Knobs(
    // work items preloaded before timing (ingest tables, churn table)
    preloadItems: Int = 1000,
    churnItems: Int = 2000,
    // ingest: items per raw JSONL drop, share of them that update an
    // existing item (the rest are new), histories appended per update
    dropItems: Int = 100,
    updateShare: Double = 0.70,
    updateHistoriesMin: Int = 1,
    updateHistoriesMax: Int = 3,
    // popularity skew of updated / looked-up / merged keys (Zipf exponent)
    zipfS: Double = 1.1,
    // changelog length: most items draw a short geometric history, a
    // `longTailShare` draws `longMin..longMax` revisions
    historiesMean: Double = 8.0,
    longTailShare: Double = 0.01,
    longMin: Int = 200,
    longMax: Int = 400,
    // churn: MERGE keys per cycle, a DELETE every `deleteEvery` cycles,
    // keys per point read, day span of the aggregate reads' window
    mergeKeys: Int = 50,
    deleteEvery: Int = 5,
    deleteKeys: Int = 10,
    pointKeysMax: Int = 20,
    aggDaysMin: Int = 30,
    aggDaysMax: Int = 180,
    // table layout (bucket count at creation)
    buckets: Int = 8)

/** The fixed flow configuration the generated items are drawn against. */
object Flow {
  val Org = "org-bench"
  val Datasource = "ds-bench"
  val Steps: Seq[WorkflowStepDef] = Seq(
    WorkflowStepDef("1", "Backlog", 1, "queue"),
    WorkflowStepDef("2", "Selected", 2, "queue"),
    WorkflowStepDef("3", "In Progress", 3, "active"),
    WorkflowStepDef("4", "Review", 4, "active"),
    WorkflowStepDef("5", "Done", 5, "active"))
  val Workflow = WorkflowDef("wf-bench", Steps, WorkflowEventsDef(2, 3, 5))
  val Workflows: Map[String, WorkflowDef] = Map(Workflow.workflowId -> Workflow)
  val Types: Seq[String] = Seq("Story", "Bug", "Task")
  val Projects: Seq[String] = Seq("10001", "10002", "10003")
  val TypeMaps: Seq[TypeMapEntry] = for (p <- Projects; t <- Types) yield
    TypeMapEntry(p, t, s"$p-$t", s"$t ($p)", if (t == "Bug") "Team" else "Individual",
      if (t == "Story") 10 else 5)
  /** Day 0 of the generated timeline. */
  val Epoch: LocalDateTime = LocalDateTime.of(2023, 1, 1, 0, 0)
  val EpochSec: Long = Epoch.toEpochSecond(ZoneOffset.UTC)
  val TimelineDays = 540
}

/** Zipf(s) ranks over `n` items, mapped through a seeded permutation so the
  * hot set is spread over the key space.
  */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  private val perm: Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }
  def next(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    perm(lo)
  }
  /** `k` distinct draws (k ≤ n). */
  def distinct(r: SplittableRandom, k: Int): Seq[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    while (seen.size < k) seen += next(r)
    seen.toSeq
  }
}

/** One generated Jira-shaped work item: its fixed attributes, current
  * status/assignee/flag, and its changelog as rendered JSON histories.
  */
final class Item(val num: Int, val created: Long, val typeName: String,
                 val project: String) {
  val key: String = "WI-" + num
  var status: Int = 0 // index into Flow.Steps
  var assignee: Int = -1
  var flagged: Boolean = false
  var lastTime: Long = created
  var historyCount: Int = 0
  val histories: ArrayBuffer[String] = ArrayBuffer.empty
}

/** Deterministic raw-item generator: every byte of every drop follows from
  * the seed and [[Knobs]]. Items only ever gain histories, so a later
  * document of an item supersedes its earlier one.
  */
final class Gen(seed: Long, val knobs: Knobs) {
  private val rnd = new SplittableRandom(seed)
  val items: ArrayBuffer[Item] = ArrayBuffer.empty

  private val TsFmt = DateTimeFormatter.ISO_LOCAL_DATE_TIME
  private def ts(sec: Long): String =
    LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(TsFmt) + "Z"

  private def q(s: String): String = "\"" + s + "\""

  private def changeItem(field: String, fieldId: String, from: String, fromS: String,
                         to: String, toS: String): String =
    s"""{"field":${q(field)},"fieldId":${q(fieldId)},"from":${q(from)},"fromString":${q(fromS)},"to":${q(to)},"toString":${q(toS)}}"""

  /** Append one history to `it`, `gapSec` after its last change. */
  private def addHistory(it: Item, gapSec: Long): Unit = {
    it.lastTime += math.max(60L, gapSec)
    it.historyCount += 1
    val hid = (it.num.toLong * 1000L + it.historyCount).toString
    val u = rnd.nextDouble()
    val changes =
      if (u < 0.60) {
        val from = it.status
        val to = nextStatus(from)
        it.status = to
        val s0 = Flow.Steps(from)
        val s1 = Flow.Steps(to)
        val st = changeItem("status", "status", s0.id, s0.name, s1.id, s1.name)
        if (rnd.nextDouble() < 0.10) Seq(st, assigneeChange(it)) else Seq(st)
      } else if (u < 0.85) Seq(assigneeChange(it))
      else {
        val c =
          if (it.flagged) changeItem("Flagged", "customfield_10021", "10019", "Impediment", "", "")
          else changeItem("Flagged", "customfield_10021", "", "", "10019", "Impediment")
        it.flagged = !it.flagged
        Seq(c)
      }
    it.histories += s"""{"id":${q(hid)},"created":${q(ts(it.lastTime))},"items":[${changes.mkString(",")}]}"""
  }

  private def assigneeChange(it: Item): String = {
    val from = it.assignee
    var to = rnd.nextInt(12)
    if (to == from) to = (to + 1) % 12
    it.assignee = to
    changeItem("assignee", "assignee",
      if (from < 0) "" else "u" + from, if (from < 0) "" else "user-" + from,
      "u" + to, "user-" + to)
  }

  private def nextStatus(from: Int): Int = {
    val last = Flow.Steps.size - 1
    val u = rnd.nextDouble()
    if (from == last) (if (u < 0.5) 2 else 3)
    else if (u < 0.75) from + 1
    else if (u < 0.95 && from > 0) from - 1
    else { val t = rnd.nextInt(Flow.Steps.size); if (t == from) (from + 1) % Flow.Steps.size else t }
  }

  private def initialHistories(): Int =
    if (rnd.nextDouble() < knobs.longTailShare)
      knobs.longMin + rnd.nextInt(knobs.longMax - knobs.longMin + 1)
    else {
      // geometric with the given mean, at least 1
      val p = 1.0 / knobs.historiesMean
      1 + (math.log(1 - rnd.nextDouble()) / math.log(1 - p)).toInt
    }

  /** A brand-new item with its initial changelog. */
  def newItem(): Item = {
    val num = items.size
    val created = Flow.EpochSec + rnd.nextLong(Flow.TimelineDays * 86400L)
    val it = new Item(num, created,
      Flow.Types(rnd.nextInt(Flow.Types.size)), Flow.Projects(rnd.nextInt(Flow.Projects.size)))
    it.status = rnd.nextInt(2)
    val n = initialHistories()
    // long changelogs change more often: spread them over the same span
    val meanGap = if (n > 50) 6 * 3600L else 2 * 86400L
    var i = 0
    while (i < n) { addHistory(it, expGap(meanGap)); i += 1 }
    items += it
    it
  }

  private def expGap(mean: Long): Long =
    (-math.log(1 - rnd.nextDouble()) * mean).toLong

  /** The item's current full document as one JSON line. */
  def doc(it: Item): String = {
    val s = Flow.Steps(it.status)
    val sb = new StringBuilder(256 + it.histories.iterator.map(_.length + 1).sum)
    sb ++= s"""{"key":${q(it.key)},"fields":{"created":${q(ts(it.created))},"updated":${q(ts(it.lastTime))}"""
    sb ++= s""","summary":${q("Work item " + it.num)},"status":{"id":${q(s.id)},"name":${q(s.name)}}"""
    sb ++= s""","issuetype":{"name":${q(it.typeName)}},"project":{"id":${q(it.project)}}"""
    if (it.assignee >= 0) sb ++= s""","assignee":{"displayName":${q("user-" + it.assignee)}}"""
    if (it.num % 3 == 0) sb ++= s""","parent":{"key":${q("WI-" + (it.num / 50))}}"""
    if (it.num % 3 == 1) sb ++= s""","customfield_15503":${q("PL-" + (it.num % 13))}"""
    if (it.num % 2 == 0) sb ++= s""","customfield_10014":${q("EPIC-" + (it.num % 11))}"""
    if (it.flagged) sb ++= ""","customfield_10021":[{"value":"Impediment"}]"""
    sb ++= """},"changelog":{"histories":["""
    var i = 0
    while (i < it.histories.size) {
      if (i > 0) sb += ','
      sb ++= it.histories(i)
      i += 1
    }
    sb ++= "]}}"
    sb.toString
  }

  /** Items 0 until n as a JSONL byte block (the preload). */
  def preload(n: Int): Array[Byte] = {
    while (items.size < n) newItem()
    jsonl(items.take(n).toSeq)
  }

  def jsonl(its: Seq[Item]): Array[Byte] =
    its.iterator.map(doc).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  private lazy val updateZipf = new Zipf(math.max(items.size, 1), knobs.zipfS, rnd)

  /** The next ingest drop: `updateShare` Zipf-skewed updates of existing
    * items (1–3 new histories each), the rest brand-new items. Each item
    * appears once, as its latest full document.
    */
  def nextDrop(): (Array[Byte], Seq[Item]) = {
    val z = updateZipf
    val nUpd = math.round(knobs.dropItems * knobs.updateShare).toInt
    val upd = z.distinct(rnd, nUpd).map(items)
    upd.foreach { it =>
      val k = knobs.updateHistoriesMin +
        rnd.nextInt(knobs.updateHistoriesMax - knobs.updateHistoriesMin + 1)
      var i = 0
      while (i < k) { addHistory(it, expGap(86400L)); i += 1 }
    }
    val fresh = Seq.fill(knobs.dropItems - nUpd)(newItem())
    val all = upd ++ fresh
    (jsonl(all), all)
  }

  // ---- churn op parameters ----

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def split(): SplittableRandom = rnd.split()

  /** A `days`-long window inside the generated timeline. */
  def window(daysMin: Int, daysMax: Int): (LocalDate, LocalDate) = {
    val days = daysMin + rnd.nextInt(daysMax - daysMin + 1)
    val start = Flow.Epoch.toLocalDate.plusDays(rnd.nextInt(Flow.TimelineDays + 60).toLong)
    (start, start.plusDays(days.toLong - 1))
  }
}
