package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** One post-image row of the reference's `employees` table. */
final case class Emp(id: Int, fullName: String, email: String, phone: String,
                     department: String, salary: Int, createdAt: Int)

/** One Debezium change event: op `c`/`u`/`d`, its log position, and its images. */
final case class Event(op: String, id: Int, lsn: Long, before: Option[Emp], after: Option[Emp])

/** The benchmark's own seeded change-log generator (the `gen` layer) and
  * its latest-wins model of everything it has generated.
  *
  * Every event takes the next log position, so `lsn` is globally
  * monotone, the property the table's precombine column relies on. The
  * model is keyed by `id`, ordered by `lsn`, applies deletes, and is also
  * fed the rows of every SQL MERGE the benchmark issues, so at any point
  * it is the state the table must hold. */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val departments = Array("IT", "HR", "Sales", "Marketing")
  private val first = Array("Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace", "Henry",
    "Irene", "Jack", "Karen", "Liam", "Mona", "Nate", "Olga", "Paul")
  private val last = Array("Adams", "Baker", "Clark", "Davis", "Evans", "Foster", "Garcia", "Hill",
    "Irwin", "Jones", "Kim", "Lopez", "Moore", "Nolan", "Owens", "Perez")

  /** id -> (row, op, lsn) of every live key. */
  val live = mutable.HashMap.empty[Int, (Emp, String, Long)]
  // live ids in an array with index lookup, for O(1) uniform picks and removals
  private val ids = mutable.ArrayBuffer.empty[Int]
  private val slot = mutable.HashMap.empty[Int, Int]
  private var lastLsn = 0L
  private var nextId = 1

  def lsn: Long = lastLsn

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A fresh row image for `id`: name fields are fixed per id, department
    * and salary change with every write. */
  def row(id: Int): Emp = {
    val h = mix(seed * 31 + id)
    val f = first((h & 15).toInt)
    val l = last(((h >>> 4) & 15).toInt)
    Emp(id, s"$f $l", s"${f.toLowerCase}.${l.toLowerCase}@example.com",
      f"555-${((h >>> 8) % 10000).abs}%04d", departments(rnd.nextInt(4)),
      10000 + rnd.nextInt(140001), 18000 + ((h >>> 24) % 2000).abs.toInt)
  }

  private def addLive(id: Int): Unit =
    if (!slot.contains(id)) { slot(id) = ids.size; ids += id }

  private def dropLive(id: Int): Unit = slot.remove(id).foreach { i =>
    val lastId = ids.remove(ids.size - 1)
    if (lastId != id) { ids(i) = lastId; slot(lastId) = i }
  }

  /** Apply one row-level effect to the model. `row = None` is a delete. */
  def record(id: Int, op: String, lsn: Long, row: Option[Emp]): Unit = row match {
    case Some(r) => live(id) = (r, op, lsn); addLive(id); nextId = nextId max (id + 1)
    case None => live.remove(id); dropLive(id)
  }

  def nextLsn(): Long = { lastLsn += 1; lastLsn }

  def randomLiveId(): Int = ids(rnd.nextInt(ids.size))

  /** A key that never existed: lookups of it must come back empty. */
  def unusedId(): Int = nextId + 1 + rnd.nextInt(1000000)

  def nextInt(n: Int): Int = rnd.nextInt(n)

  def freshId(): Int = { val id = nextId; nextId += 1; id }

  /** Inserts of `n` new keys. */
  def inserts(n: Int): Seq[Event] = (1 to n).map(_ => insert())

  private def insert(): Event = {
    val id = freshId()
    val r = row(id)
    val e = Event("c", id, nextLsn(), None, Some(r))
    record(id, "c", e.lsn, Some(r))
    e
  }

  /** `n` events over uniformly drawn live keys: updates with probability
    * `pUpdate`, deletes with `pDelete`, inserts of new keys otherwise. */
  def changes(n: Int, pUpdate: Double, pDelete: Double): Seq[Event] = (1 to n).map { _ =>
    val u = rnd.nextDouble()
    if (u < pUpdate + pDelete && ids.size > 1) {
      val id = randomLiveId()
      val before = live(id)._1
      if (u < pUpdate) {
        val r = row(id)
        val e = Event("u", id, nextLsn(), Some(before), Some(r))
        record(id, "u", e.lsn, Some(r))
        e
      } else {
        val e = Event("d", id, nextLsn(), Some(before), None)
        record(id, "d", e.lsn, None)
        e
      }
    } else insert()
  }
}

/** The Kafka-record JSON-lines wire shape `graft.cdc.CdcGen.toKafkaJsonLines`
  * writes: one JSON object per record, the Debezium envelope serialized
  * into `value`. */
object Wire {
  private val baseTs = 1685000000000L

  private def img(sb: StringBuilder, r: Option[Emp]): Unit = r match {
    case None => sb ++= "null"
    case Some(e) =>
      sb ++= "{\"id\":" ++= e.id.toString ++= ",\"full_name\":\"" ++= e.fullName ++=
        "\",\"email\":\"" ++= e.email ++= "\",\"phone\":\"" ++= e.phone ++=
        "\",\"department\":\"" ++= e.department ++= "\",\"salary\":" ++= e.salary.toString ++=
        ",\"created_at\":" ++= e.createdAt.toString ++= "}"
  }

  def envelope(e: Event): String = {
    val ts = (baseTs + e.lsn).toString
    val sb = new StringBuilder(512)
    sb ++= "{\"payload\":{\"before\":"
    img(sb, e.before)
    sb ++= ",\"after\":"
    img(sb, e.after)
    sb ++= ",\"source\":{\"version\":\"2.2.0.Final\",\"connector\":\"postgresql\"," +
      "\"name\":\"debezium1\",\"ts_ms\":" ++= ts ++= ",\"snapshot\":\"false\",\"db\":\"railway\"," +
      "\"schema\":\"public\",\"table\":\"employees\",\"txId\":" ++= (500 + e.lsn / 5).toString ++=
      ",\"lsn\":" ++= e.lsn.toString ++= "},\"op\":\"" ++= e.op ++= "\",\"ts_ms\":" ++= ts ++= "}}"
    sb.toString
  }

  def line(e: Event): String = {
    val value = envelope(e).replace("\\", "\\\\").replace("\"", "\\\"")
    val ts = java.time.Instant.ofEpochMilli(baseTs + e.lsn).toString
    s"""{"value":"$value","topic":"debezium1.public.employees","partition":0,""" +
      s""""offset":${e.lsn - 1},"timestamp":"$ts"}"""
  }

  /** The bytes of one topic segment. */
  def render(events: Seq[Event]): Array[Byte] =
    events.iterator.map(line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  private var lastMtime = 0L

  /** Land one rendered topic segment atomically: written under a hidden
    * name the file source skips, then renamed into place. The file source
    * orders files by modification time (ms), the role offsets play on a
    * real topic, so every segment gets a strictly later one than the
    * segment before it: two segments landed in the same millisecond could
    * otherwise be read in either order. Returns the landing instant (ms). */
  def land(dir: String, name: String, body: Array[Byte]): Long = synchronized {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, body)
    lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(lastMtime))
    Files.move(tmp, Paths.get(dir, s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }
}
