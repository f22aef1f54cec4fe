package graft.core

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable

/**
 * E3 — Avro schema-registry abstraction (reference
 * pkg/sink/codec/avro/schema_manager.go: Register/Lookup against a
 * Confluent-compatible registry, caching (subject, version) → schema id).
 * No registry service exists in this environment, so the store is
 * in-memory with optional file backing — the SEMANTICS are the
 * registry's: globally unique monotone ids, per-subject monotone
 * versions, idempotent registration (re-registering a subject's existing
 * schema returns its original id/version, the Confluent contract), and
 * lookup by (subject, version), latest, or global id (the id embedded in
 * the wire frame by [[graft.functions.AvroBinary]]).
 *
 * Control-plane component: schemas are a handful of strings; every
 * executor-side use goes through the literal schema id folded into the
 * encode/decode expressions at plan time.
 */
final class AvroSchemaRegistry(persistDir: Option[String] = None) {

  final case class Registered(id: Int, subject: String, version: Int,
                              schema: String)

  private val entries = mutable.ArrayBuffer.empty[Registered]
  private var nextId = 1

  persistDir.foreach { d =>
    val p = Paths.get(d, "avro_registry.log")
    if (Files.exists(p)) {
      Files.readAllLines(p).forEach { line =>
        if (line.nonEmpty) {
          val Array(id, subject, version, schema) = line.split("\t", 4)
          entries += Registered(id.toInt, subject, version.toInt,
            java.net.URLDecoder.decode(schema, "UTF-8"))
          nextId = math.max(nextId, id.toInt + 1)
        }
      }
    }
  }

  private def append(r: Registered): Unit = persistDir.foreach { d =>
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(d, "avro_registry.log"),
      s"${r.id}\t${r.subject}\t${r.version}\t" +
        java.net.URLEncoder.encode(r.schema, "UTF-8") + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Register a schema under a subject; idempotent on identical schema
    * text (returns the existing registration). */
  def register(subject: String, schema: String): Registered = synchronized {
    entries.find(e => e.subject == subject && e.schema == schema).getOrElse {
      val version = entries.filter(_.subject == subject)
        .map(_.version).maxOption.getOrElse(0) + 1
      val r = Registered(nextId, subject, version, schema)
      nextId += 1
      entries += r
      append(r)
      r
    }
  }

  def lookup(subject: String, version: Int): Option[Registered] =
    synchronized(entries.find(e => e.subject == subject && e.version == version))

  def latest(subject: String): Option[Registered] =
    synchronized(entries.filter(_.subject == subject)
      .sortBy(_.version).lastOption)

  def byId(id: Int): Option[Registered] =
    synchronized(entries.find(_.id == id))

  def subjects: Seq[String] = synchronized(entries.map(_.subject).distinct.toSeq)
}

/**
 * E3 — AWS Glue schema-registry contract, the reference's second registry
 * next to Confluent (pkg/sink/codec/avro/glue_schema_registry.go:96-124,
 * 257-292): schemas register under a (registryName, schemaName) pair; the
 * FIRST registration creates the schema at version 1 (CreateSchema), later
 * registrations of a NEW definition append a version
 * (RegisterSchemaVersion), and re-registering an existing definition is
 * idempotent — it returns the version already holding it. Unlike Confluent's
 * global int ids, every schema VERSION is identified by a UUID
 * (SchemaVersionId), which is what the 18-byte Glue wire header carries
 * (glue_schema_registry.go:330-345).
 *
 * No AWS endpoint exists in this environment, so the store is in-memory
 * with optional file backing; version ids are deterministic name-based
 * UUIDs over (registry, schema, version, definition) so replays and
 * restarts agree — the SEMANTICS (UUID identity, per-schema version chain,
 * idempotent re-register) are Glue's.
 */
final class GlueSchemaRegistry(val registryName: String,
                               persistDir: Option[String] = None) {

  final case class GlueRegistered(schemaName: String, versionNumber: Int,
                                  versionId: java.util.UUID, schema: String)

  private val entries = mutable.ArrayBuffer.empty[GlueRegistered]

  persistDir.foreach { d =>
    val p = Paths.get(d, s"glue_registry_$registryName.log")
    if (Files.exists(p)) {
      Files.readAllLines(p).forEach { line =>
        if (line.nonEmpty) {
          val Array(name, version, id, schema) = line.split("\t", 4)
          entries += GlueRegistered(name, version.toInt,
            java.util.UUID.fromString(id),
            java.net.URLDecoder.decode(schema, "UTF-8"))
        }
      }
    }
  }

  private def append(r: GlueRegistered): Unit = persistDir.foreach { d =>
    Files.createDirectories(Paths.get(d))
    Files.writeString(Paths.get(d, s"glue_registry_$registryName.log"),
      s"${r.schemaName}\t${r.versionNumber}\t${r.versionId}\t" +
        java.net.URLEncoder.encode(r.schema, "UTF-8") + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def versionUuid(name: String, version: Int, schema: String) =
    java.util.UUID.nameUUIDFromBytes(
      s"$registryName\u0000$name\u0000$version\u0000$schema"
        .getBytes("UTF-8"))

  /** CreateSchema on first sight of the name, RegisterSchemaVersion after;
    * idempotent on an already-registered definition (returns its existing
    * version — the Glue RegisterSchemaVersion contract). */
  def register(schemaName: String, schema: String): GlueRegistered =
    synchronized {
      entries.find(e => e.schemaName == schemaName && e.schema == schema)
        .getOrElse {
          val version = entries.filter(_.schemaName == schemaName)
            .map(_.versionNumber).maxOption.getOrElse(0) + 1
          val r = GlueRegistered(schemaName, version,
            versionUuid(schemaName, version, schema), schema)
          entries += r
          append(r)
          r
        }
    }

  /** GetSchemaVersion by SchemaVersionId — the wire-header lookup path. */
  def byId(versionId: java.util.UUID): Option[GlueRegistered] =
    synchronized(entries.find(_.versionId == versionId))

  /** GetSchemaVersion with LatestVersion=true. */
  def latest(schemaName: String): Option[GlueRegistered] =
    synchronized(entries.filter(_.schemaName == schemaName)
      .sortBy(_.versionNumber).lastOption)

  def lookup(schemaName: String, versionNumber: Int): Option[GlueRegistered] =
    synchronized(entries.find(e =>
      e.schemaName == schemaName && e.versionNumber == versionNumber))
}
