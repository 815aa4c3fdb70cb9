package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}

/** Reference answers for the `store` queries, computed independently of
  * the code under test: the slice each query reads comes from one Spark
  * SQL join of the query parameters against the de-duplicated archive;
  * aggregates, rolling windows, interpolation and the line format are
  * recomputed in plain Scala over that slice. */
object Check {
  private final case class Ref(us: Long, cmb: Double, pir: Double, pz: Double, temp: Double) {
    def field(f: String): Double = f match {
      case "cmb" => cmb
      case "pir" => pir
      case "pz" => pz
      case "temp" => temp
    }
  }

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Descriptions of the queries whose answer is missing or wrong. */
  def answers(spark: SparkSession, archive: String,
      done: Seq[(Store.Q, Double, Option[Seq[Row]])]): Seq[String] = {
    import spark.implicits._
    done.map(_._1).map(q => (q.id, q.sensor, q.from, q.to)).toDF("qid", "sensor", "a", "b")
      .createOrReplaceTempView("pb_params")
    spark.read.parquet(archive).createOrReplaceTempView("pb_archive")
    val slices = spark.sql(
      """SELECT p.qid, d.time, d.cmb, d.pir, d.pz, d.temp
        |FROM pb_params p
        |JOIN (SELECT DISTINCT sensor, time, cmb, pir, pz, temp FROM pb_archive) d
        |  ON d.sensor = p.sensor AND d.time >= p.a AND d.time < p.b""".stripMargin)
      .collect().groupBy(_.getInt(0))
      .map { case (qid, rs) => qid -> rs.map(r => Ref(micros(r.getTimestamp(1)), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_.us).toSeq }
    done.flatMap { case (q, _, ans) =>
      val ref = slices.getOrElse(q.id, Seq.empty)
      val ok = ans.exists(a => q.kind match {
        case "dashboard" => dashboard(ref, a)
        case "downsample" => downsample(ref, a)
        case "rolling" => rolling(ref, a)
        case "resample" => resample(ref, a)
        case "export" => export(ref, a, q.sensor)
      })
      if (ok) None else Some(s"query ${q.id} (${q.kind} ${q.sensor} ${q.from}..${q.to})")
    }
  }

  private def dashboard(ref: Seq[Ref], got: Seq[Row]): Boolean = {
    val g = got.map(r => Ref(micros(r.getTimestamp(0)), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))).sortBy(_.us)
    g == ref
  }

  private def downsample(ref: Seq[Ref], got: Seq[Row]): Boolean = {
    val step = 600L * 1000000L
    val want = (for (r <- ref; f <- Store.Fields) yield (Math.floorDiv(r.us, step) * step, f, r.field(f)))
      .groupBy(x => (x._1, x._2)).map { case (k, xs) =>
        val v = xs.map(_._3)
        k -> (v.size.toLong, v.sum / v.size, v.min, v.max)
      }
    got.size == want.size && got.forall { r =>
      want.get((micros(r.getTimestamp(0)), r.getString(1))).exists { case (n, mean, mn, mx) =>
        r.getLong(2) == n && close(r.getDouble(3), mean) && r.getDouble(4) == mn && r.getDouble(5) == mx
      }
    }
  }

  private def rolling(ref: Seq[Ref], got: Seq[Row]): Boolean = {
    val g = got.sortBy(r => micros(r.getTimestamp(0)))
    g.size == ref.size && g.zip(ref).forall { case (r, x) =>
      micros(r.getTimestamp(0)) == x.us && Store.RollWindows.zipWithIndex.forall { case ((_, s), i) =>
        val in = ref.filter(y => y.us >= x.us - s * 1000000L && y.us <= x.us)
        close(r.getDouble(1 + 2 * i), in.map(_.pz).sum / in.size) &&
          r.getDouble(2 + 2 * i) == in.map(_.temp).max
      }
    }
  }

  private def resample(ref: Seq[Ref], got: Seq[Row]): Boolean = {
    val step = Store.ResampleStepS * 1000000L
    val want =
      if (ref.isEmpty) Seq.empty
      else {
        val first = Math.floorDiv(ref.head.us + step - 1, step) * step
        val last = Math.floorDiv(ref.last.us, step) * step
        (first to last by step).map { t =>
          val i = ref.lastIndexWhere(_.us <= t)
          val p = ref(i)
          if (p.us == t) (t, p.pz)
          else {
            val n = ref(i + 1)
            (t, p.pz + (n.pz - p.pz) * ((t - p.us).toDouble / (n.us - p.us).toDouble))
          }
        }
      }
    val g = got.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    g.size == want.size && g.zip(want).forall { case (a, b) => a._1 == b._1 && close(a._2, b._2) }
  }

  private def export(ref: Seq[Ref], got: Seq[Row], sensor: String): Boolean = {
    val parsed = got.map(_.getString(0).split(" ")).map { case Array(head, fields, ns) =>
      val kv = fields.split(",").map(_.split("=")).map(a => a(0) -> a(1).toDouble).toMap
      (head, ns.toLong, kv)
    }.sortBy(_._2)
    parsed.size == ref.size && parsed.zip(ref).forall { case ((head, ns, kv), x) =>
      head == s"pressure,sensor=$sensor" && ns == x.us * 1000L &&
        kv.keySet == Store.Fields.toSet && Store.Fields.forall(f => close(kv(f), x.field(f), 1e-15))
    }
  }
}
