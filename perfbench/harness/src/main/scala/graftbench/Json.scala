package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The harness's result and span files, serialized with json4s. */
object Json {
  def apply(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  /** Writes `body` to `path` through a rename, so a reader never sees a
    * partial file.
    */
  def write(path: String, body: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }
}
