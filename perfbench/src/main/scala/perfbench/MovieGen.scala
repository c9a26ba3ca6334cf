package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Try

/** Seeded generator for the `movie_etl` workload plus a plain-Scala model
  * of the reference merge rule, which gives the expected KV content.
  *
  * Inputs written per seed (byte-identical for the same seed):
  *  - `state/part-NNN.json`: the existing per-(customer, movie) state as
  *    flat JSON lines, larger than one batch;
  *  - `batch-NN/part-NNN.json`: movie records in the reference's input
  *    shape, each with a `watchedBy` array of rating events.
  *
  * The data carries the cases the merge rule must get right: customer ids
  * skewed Zipf-like, the same (customer, movie) pair more than once within
  * a batch and across batch and state, unparseable dates, and empty
  * `watchedBy` arrays. perfbench/README.md gives the source of each size. */
final case class Event(customerId: String, movieId: String, title: String,
    year: Int, rating: Int, date: String)

/** `expected` maps each KV key the batch must write to `Digest.hash64` of
  * its value, which keeps the expected content of all batches small. */
final case class MovieBatch(dir: String, events: Long,
    expected: Map[String, Long])

object MovieGen {
  val Batches = 5
  /** files per batch: the reference's BATCH_SIZE */
  val FilesPerBatch = 10
  val EventsPerBatch = 25000
  val StateRows = 2 * EventsPerBatch
  /** id spaces: the `customer` and `part` tables at sf0.1 */
  val Customers = 15000
  val Movies = 20000
  val MaxWatchers = 30

  private val BadDates = Array("unknown", "", "2021/07/14")

  def title(movie: Int): String = s"Movie $movie"
  def year(movie: Int): Int = 1950 + movie % 70

  /** Writes state and batches under `root` and returns, per batch, its
    * directory, event count and the KV content the pipeline must write. */
  def generate(seed: Long, root: File): (String, Seq[MovieBatch]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val zipf = zipfCdf(Customers)
    def customer(): String = {
      val i = java.util.Arrays.binarySearch(zipf, rnd.nextDouble())
      s"c${if (i >= 0) i else -i - 1}"
    }
    def movie(): Int = rnd.nextInt(Movies)
    def date(): String =
      if (rnd.nextInt(25) == 0) BadDates(rnd.nextInt(BadDates.length))
      else LocalDate.ofEpochDay(18000 + rnd.nextInt(1500)).toString
    def rating(): Int = 1 + rnd.nextInt(5)

    val stateDir = new File(root, "state")
    val state = mutable.ArrayBuffer[Event]()
    for (f <- 0 until FilesPerBatch)
      writeLines(new File(stateDir, f"part-$f%03d.json")) { out =>
        for (_ <- 0 until StateRows / FilesPerBatch) {
          val m = movie()
          val e = Event(customer(), s"m$m", title(m), year(m), rating(), date())
          state += e
          out.write(s"""{"customerId":"${e.customerId}","movieId":"${e.movieId}",""" +
            s""""title":"${e.title}","yearOfRelease":${e.year},""" +
            s""""rating":${e.rating},"date":"${e.date}"}""" + "\n")
        }
      }
    val stateBest = bestPerKey(state)

    val batches = (0 until Batches).map { b =>
      val dir = new File(root, f"batch-$b%02d")
      val events = mutable.ArrayBuffer[Event]()
      for (f <- 0 until FilesPerBatch)
        writeLines(new File(dir, f"part-$f%03d.json")) { out =>
          val end = events.size + EventsPerBatch / FilesPerBatch
          while (events.size < end) {
            val m = movie()
            // one record in ten has an empty watchedBy array; the last
            // record of a file is cut to the file's event count
            val n = if (rnd.nextInt(10) == 0) 0
              else math.min(1 + rnd.nextInt(MaxWatchers), end - events.size)
            val watchers = (0 until n).map { _ =>
              // a customer repeats within one record now and then, so the
              // same (customer, movie) pair arrives twice in one batch
              val c = if (events.nonEmpty && rnd.nextInt(20) == 0)
                events(events.size - 1).customerId else customer()
              // the nested movie-id is parsed but ignored by the
              // pipeline: the parent movieId wins
              val e = Event(c, s"m$m", title(m), year(m), rating(), date())
              events += e
              s"""{"customer-id":"$c","movie-id":"m${movie()}",""" +
                s""""rating":${e.rating},"date":"${e.date}"}"""
            }
            out.write(s"""{"movieId":"m$m","title":"${title(m)}",""" +
              s""""yearOfRelease":${year(m)},"watchedBy":[""" +
              watchers.mkString(",") + "]}\n")
          }
        }
      MovieBatch(dir.getPath, events.size.toLong,
        expectedKv(stateBest, bestPerKey(events)))
    }
    (stateDir.getPath, batches)
  }

  /** Inverse-CDF table for Zipf's law (weight 1/rank) over `n` ranks. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def writeLines(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try body(out) finally out.close()
  }

  private val Iso = DateTimeFormatter.ofPattern("uuuu-MM-dd")
  private def parse(d: String): Option[LocalDate] =
    Try(LocalDate.parse(d, Iso)).toOption

  /** The pipeline's dedup order within one snapshot: latest parseable
    * date first, unparseable last, then rating, date string and title,
    * all descending. Returns true if `a` ranks above `b`. */
  private def ranksAbove(a: Event, b: Event): Boolean = {
    val (pa, pb) = (parse(a.date), parse(b.date))
    if (pa.isDefined != pb.isDefined) pa.isDefined
    else if (pa.isDefined && pa != pb) pa.get.isAfter(pb.get)
    else if (a.rating != b.rating) a.rating > b.rating
    else if (a.date != b.date) a.date > b.date
    else a.title > b.title
  }

  private def bestPerKey(events: Iterable[Event]): Map[(String, String), Event] = {
    val best = mutable.HashMap[(String, String), Event]()
    events.foreach { e =>
      val k = (e.customerId, e.movieId)
      best.get(k) match {
        case Some(cur) if !ranksAbove(e, cur) =>
        case _ => best(k) = e
      }
    }
    best.toMap
  }

  /** The reference merge rule (isMoreRecent): incoming replaces existing
    * only if both dates parse and incoming is strictly later; ties and
    * unparseable dates keep the existing value. Then one KV entry per
    * customer, movies sorted by movieId, in the JSON shape `to_json`
    * writes. */
  private def expectedKv(existing: Map[(String, String), Event],
      incoming: Map[(String, String), Event]): Map[String, Long] = {
    val merged = existing ++ incoming.filter { case (k, in) =>
      existing.get(k) match {
        case None => true
        case Some(ex) => (parse(in.date), parse(ex.date)) match {
          case (Some(n), Some(o)) => n.isAfter(o)
          case _ => false
        }
      }
    }
    merged.values.groupBy(_.customerId).map { case (c, es) =>
      val movies = es.toSeq.sortBy(_.movieId).map { e =>
        s"""{"movieId":"${e.movieId}","title":"${e.title}",""" +
          s""""yearOfRelease":${e.year},"rating":${e.rating},"date":"${e.date}"}"""
      }
      s"customer:$c" ->
        Digest.hash64(s"""{"customerId":"$c","watchedMovies":[${movies.mkString(",")}]}""")
    }
  }
}
