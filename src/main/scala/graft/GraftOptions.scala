package graft

/**
 * Validated deployment configuration — the `TiFlinkOptions` analog
 * (reference: flink/src/main/java/org/tikv/flink/TiFlinkOptions.java:1-102,
 * which declares a typed option per knob and converts a string map into a
 * validated configuration object). One case class carries every knob a
 * graft deployment templates; [[GraftOptions.fromMap]] is the single
 * parse/validate point, so a typo'd key, a non-numeric value, or an
 * out-of-range setting fails loudly at SUBMIT time instead of surfacing as
 * a weird runtime default.
 *
 * Consumed by [[graft.streaming.MaterializedView.Builder.setOptions]]
 * (trigger cadence, bucket count, watermark, rebuild mode); the TCP
 * timestamp oracle takes the auth token.
 */
final case class GraftOptions(
    /** Micro-batch trigger cadence; 0 = as-fast-as-possible. */
    triggerMs: Long = 0L,
    /** Bucket count for upsert targets (per-MV parallelism knob), at
      * least 1; a target's first commit pins it. */
    numBuckets: Int = 64,
    /** Event-time watermark: (column, delay) — both keys or neither. */
    watermark: Option[(String, String)] = None,
    /** Recreate target + checkpoint on start (TiFlinkApp dropOldTable). */
    dropIfExists: Boolean = false,
    /** Shared secret for the TCP timestamp oracle ([[graft.streaming
      * .TsoServer]]/[[graft.streaming.TcpTso]]): required on every wire
      * line when set, constant-time-compared server-side. None = the
      * loopback no-auth posture. */
    tsoAuthToken: Option[String] = None)

object GraftOptions {
  val TriggerMs = "graft.trigger.ms"
  val Buckets = "graft.buckets"
  val WatermarkColumn = "graft.watermark.column"
  val WatermarkDelay = "graft.watermark.delay"
  val DropIfExists = "graft.drop.if.exists"
  val TsoAuthToken = "graft.tso.auth.token"

  val knownKeys: Set[String] = Set(TriggerMs, Buckets, WatermarkColumn,
    WatermarkDelay, DropIfExists, TsoAuthToken)

  /** Parse + validate a string option map (the form a deployment template
    * or SQL `OPTIONS (...)` clause produces). Every failure names the key
    * and the constraint it broke. */
  def fromMap(options: Map[String, String]): GraftOptions = {
    val unknown = options.keySet -- knownKeys
    require(unknown.isEmpty,
      s"unknown graft option(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(known: ${knownKeys.toSeq.sorted.mkString(", ")})")

    def long(key: String, min: Long, default: Long): Long =
      options.get(key).map { s =>
        val v = try s.trim.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"$key: '$s' is not a long")
        }
        require(v >= min, s"$key: $v must be >= $min")
        v
      }.getOrElse(default)

    def int(key: String, min: Int, default: Int): Int = {
      val v = long(key, min, default)
      require(v <= Int.MaxValue, s"$key: $v exceeds Int range")
      v.toInt
    }

    def bool(key: String, default: Boolean): Boolean =
      options.get(key).map { s =>
        s.trim.toLowerCase match {
          case "true" => true
          case "false" => false
          case other =>
            throw new IllegalArgumentException(s"$key: '$other' is not a boolean")
        }
      }.getOrElse(default)

    val watermark = (options.get(WatermarkColumn), options.get(WatermarkDelay)) match {
      case (Some(c), Some(d)) =>
        require(c.trim.nonEmpty, s"$WatermarkColumn must not be empty")
        // validate the delay the same way withWatermark will parse it —
        // fail at submit, not at stream start
        val iv =
          try org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
            org.apache.spark.unsafe.types.UTF8String.fromString(d))
          catch {
            case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
              s"$WatermarkDelay: cannot parse interval '$d' (${e.getMessage})")
          }
        require(iv.months >= 0 && iv.days >= 0 && iv.microseconds >= 0,
          s"$WatermarkDelay: '$d' must be a non-negative delay")
        Some((c.trim, d))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        s"$WatermarkColumn and $WatermarkDelay must be set together")
    }

    val tsoAuthToken = options.get(TsoAuthToken).map { t =>
      try graft.streaming.TsoServer.validateToken(t)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$TsoAuthToken: ${e.getMessage}")
      }
      t
    }

    GraftOptions(
      triggerMs = long(TriggerMs, min = 0L, default = 0L),
      numBuckets = int(Buckets, min = 1, default = 64),
      watermark = watermark,
      dropIfExists = bool(DropIfExists, default = false),
      tsoAuthToken = tsoAuthToken)
  }
}
