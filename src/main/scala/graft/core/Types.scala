package graft.core

import java.time.Instant

/** Result representations for getters — mirrors the reference's
  * `AccessType` (`/root/reference/src/aerovaldb/types.py:28-34`). */
sealed trait AccessType
object AccessType {
  /** Parsed document (Jackson `JsonNode`). */
  case object Obj extends AccessType
  /** Raw JSON string (the fast path — no parse). */
  case object JsonStr extends AccessType
  /** Path of the backing file (JsonFileStore only). */
  case object FilePath extends AccessType
  /** Canonical asset URI. */
  case object Uri extends AccessType
  /** Raw bytes (blob routes). */
  case object Blob extends AccessType
  /** Last-modification timestamp. */
  case object Mtime extends AccessType
  /** Creation timestamp. */
  case object Ctime extends AccessType

  /** Normalization from string — reference `aerovaldb.py:1284-1309`. */
  def fromString(s: String): AccessType = s.toUpperCase match {
    case "OBJ"       => Obj
    case "JSON_STR"  => JsonStr
    case "FILE_PATH" => FilePath
    case "URI"       => Uri
    case "BLOB"      => Blob
    case "MTIME"     => Mtime
    case "CTIME"     => Ctime
    case other       => throw new IllegalArgumentException(s"Unknown access type '$other'")
  }
}

/** A value returned by a getter, in one of the access representations. */
sealed trait AssetValue
object AssetValue {
  final case class Json(value: String) extends AssetValue
  final case class Obj(value: com.fasterxml.jackson.databind.JsonNode) extends AssetValue
  final case class Path(value: String) extends AssetValue
  final case class Uri(value: String) extends AssetValue
  final case class Blob(value: Array[Byte]) extends AssetValue
  final case class Time(value: Instant) extends AssetValue
}

/** One catalog entry from `query()` — reference
  * `src/aerovaldb/utils/query.py:11-44`. */
final case class QueryEntry(uri: String, route: Route, meta: Map[String, String]) {
  override def toString: String = uri
}

object QueryEntry {
  /** The catalog entry of the asset keyed by `keys` on `route`: keys
    * named in the route's template fill the URI path, the others go to
    * its query string, and `keys` is the entry's meta. */
  def of(route: Route, keys: Map[String, String]): QueryEntry = {
    val (args, kwargs) = keys.partition { case (k, _) => route.argNames.contains(k) }
    QueryEntry(graft.codec.UriCodec.build(route, args, kwargs), route, keys)
  }
}

/** Raised when args/kwargs remain after matching (reference
  * `exceptions.py`). */
final class UnusedArguments(msg: String) extends IllegalArgumentException(msg)
/** Raised when no filepath template matches the requested version. */
final class TemplateNotFound(msg: String) extends NoSuchElementException(msg)
/** Raised when an operation is not provided by a backend. */
final class UnsupportedOperation(msg: String) extends UnsupportedOperationException(msg)
