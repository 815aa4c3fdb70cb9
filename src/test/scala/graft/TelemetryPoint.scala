package graft.model

/** Typed view of one point ([[Point.schema]]) for building test fixtures
  * as `Dataset[TelemetryPoint]` and `MemoryStream[TelemetryPoint]`. */
case class TelemetryPoint(
    measurement: String,
    tags: Map[String, String],
    fields: Map[String, Double],
    fields_str: Map[String, String],
    time: java.sql.Timestamp,
    time_ns: Option[Long],
    bucket: Option[String])
