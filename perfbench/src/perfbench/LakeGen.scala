package perfbench

import java.sql.Timestamp

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import graft.model.Statement
import graft.ops.Explode
import graft.ops.Explode.EntityPayload

/** Seeded FtM corpus for the lake workloads, with its own ground truth.
  *
  * Persons, Companies and Ownerships; each entity is imported under one
  * or two origins (each origin carries part of its properties), some
  * properties are multi-valued, and a share of the origin payloads is
  * imported a second time unchanged (re-imported duplicates the lake
  * must collapse). Everything the benchmark later checks
  * — assembled documents, search pages, statement counts — is derived
  * here from the payloads, never from the program under test.
  */
final class LakeGen(seed: Long, baseEntities: Int) {
  import LakeGen._

  private val rnd = new Random(seed)
  private val first = Vector("anna", "boris", "chen", "dara", "emil", "fatima",
    "gus", "hana", "ivan", "jia", "karl", "lena", "mo", "nina", "omar", "petra")
  private val last = Vector("adler", "brandt", "costa", "dietz", "engel",
    "fischer", "graf", "haas", "ito", "jung", "klein", "lopez", "meyer", "novak")
  private val word = Vector("alpine", "blue", "cedar", "delta", "ember",
    "fjord", "granite", "harbor", "iron", "juniper", "kite", "lumen", "maple")
  private val suffix = Vector("ltd", "gmbh", "sa", "llc", "ag", "bv")

  private def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))
  private def date(y0: Int, span: Int): String =
    f"${y0 + rnd.nextInt(span)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"

  /** Countries the base corpus draws from; searches filter on these. */
  val countries: Vector[String] = Vector("de", "fr", "gb", "us", "ru", "cy")

  private def person(id: String, country: String): Map[String, Seq[String]] = {
    val n = s"${pick(first)} ${pick(last)}"
    val names = if (rnd.nextInt(4) == 0) Seq(n, s"${pick(first)} ${pick(last)}") else Seq(n)
    Map("name" -> names.distinct, "nationality" -> Seq(country),
      "birthDate" -> Seq(date(1940, 60)),
      "email" -> (0 until rnd.nextInt(3)).map(i => s"$id.$i@example.org"))
      .filter(_._2.nonEmpty)
  }

  private def company(id: String, country: String): Map[String, Seq[String]] =
    Map("name" -> Seq(s"${pick(word)} ${pick(word)} ${pick(suffix)}"),
      "jurisdiction" -> Seq(country),
      "incorporationDate" -> Seq(date(1950, 70)),
      "registrationNumber" -> Seq(f"HR${rnd.nextInt(1000000)}%06d"))

  private def ownership(owner: String, asset: String): Map[String, Seq[String]] =
    Map("owner" -> Seq(owner), "asset" -> Seq(asset),
      "percentage" -> Seq((1 + rnd.nextInt(100)).toString),
      "startDate" -> Seq(date(1990, 30)))

  private def split(id: String, schema: String, props: Map[String, Seq[String]]): Ent = {
    val origins =
      if (rnd.nextInt(3) == 0) Seq(pick(Origins), pick(Origins)).distinct else Seq(pick(Origins))
    val parts =
      if (origins.size == 1) Seq(origins.head -> props)
      else {
        // the name stays on the first origin so every payload's entity has
        // a caption; the rest of the properties are dealt across origins
        val (keep, rest) = props.partition(_._1 == "name")
        val dealt = rest.toSeq.map(kv => (if (rnd.nextBoolean()) 0 else 1) -> kv)
        origins.zipWithIndex.map { case (o, i) =>
          o -> ((if (i == 0) keep else Map.empty[String, Seq[String]]) ++ dealt.filter(_._1 == i).map(_._2))
        }.filter(_._2.nonEmpty)
      }
    Ent(id, schema, props, parts)
  }

  private def mkEntities(prefix: String, n: Int, countryPool: Vector[String],
      owners: => Vector[Ent]): Vector[Ent] = {
    val persons = (0 until n / 2).map { i =>
      val id = f"$prefix-per-$i%06d"
      split(id, "Person", person(id, pick(countryPool)))
    }.toVector
    val companies = (0 until n * 7 / 20).map { i =>
      val id = f"$prefix-com-$i%06d"
      split(id, "Company", company(id, pick(countryPool)))
    }.toVector
    val pool = persons ++ companies ++ owners
    val ownerships = (0 until n - persons.size - companies.size).map { i =>
      val id = f"$prefix-own-$i%06d"
      val asset = companies(rnd.nextInt(companies.size)).id
      split(id, "Ownership", ownership(pool(rnd.nextInt(pool.size)).id, asset))
    }.toVector
    persons ++ companies ++ ownerships
  }

  /** The base lake every workload starts from. */
  val base: Vector[Ent] = mkEntities("b", baseEntities, countries, Vector.empty)

  /** Origin payloads imported a second time, unchanged. */
  val reimports: Vector[(Ent, String, Map[String, Seq[String]])] =
    base.flatMap(e => e.parts.map(p => (e, p._1, p._2))).filter(_ => rnd.nextInt(10) == 0)

  /** Writer batches for the ingest phase. Their entities use a country
    * no search asks for, so concurrent searches over the base lake have
    * a fixed answer while writes land. */
  def ingestBatch(cycle: Int, n: Int): Vector[Ent] =
    mkEntities(f"w$cycle%03d", n, Vector(WriterCountry), base.take(50))

  // ---- ground truth ----

  /** Live statements of an entity set: one per (origin, distinct prop
    * value) plus the per-(entity, origin) BASE_ID checksum row. */
  def statementCount(es: Iterable[Ent]): Long =
    es.iterator.map(_.parts.map(_._2.valuesIterator.map(_.distinct.size).sum + 1).sum.toLong).sum

  private lazy val byId: Map[String, Ent] = base.iterator.map(e => e.id -> e).toMap
  def entity(id: String): Option[Ent] = byId.get(id)

  /** Expected page of a search: entities of `schema` whose `filterProp`
    * equals `value`, ordered by the minimum of `orderProp`, then id. */
  def searchPage(s: Search): Seq[String] =
    base.iterator
      .filter(e => e.schema == s.schema && e.props.get(s.filterProp).exists(_.contains(s.value)))
      .map(e => (e.props.get(s.orderProp).map(_.min).getOrElse("￿"), e.id))
      .toSeq.sorted.slice(s.offset, s.offset + PageSize).map(_._2)

  /** Zipf(1)-skewed key sampler over a seed-shuffled ranking of the base
    * entities that lookups and statement queries draw from. */
  def zipfKeys(r: Random): () => String = {
    val ranked = new Random(seed ^ 0x5eed).shuffle(base.filter(_.schema != "Ownership").map(_.id))
    val cdf = ranked.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    () => {
      val x = r.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cdf, x)
      ranked(math.min(ranked.size - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Searches alternate Person and Company pages at offsets 0–80 in a
    * fixed order; the seed picks the country each one filters on. */
  def searches(r: Random): () => Search = {
    var i = 0
    () => {
      val offset = PageSize * ((i / 2) % 5)
      val c = countries(r.nextInt(countries.size))
      i += 1
      if (i % 2 == 1) Search("Person", "nationality", c, "birthDate", offset)
      else Search("Company", "jurisdiction", c, "incorporationDate", offset)
    }
  }

  // ---- wire form ----

  /** JSONL journal rows for a set of origin payloads, exploded with the
    * program's own client-side recipe (the one `ApiLakeRepository` uses),
    * so the rows are exactly what an API caller would post. */
  def jsonl(payloads: Seq[(String, String, Map[String, Seq[String]], String)],
      now: Timestamp): Vector[String] =
    payloads.groupBy(_._4).toVector.sortBy(_._1).flatMap { case (origin, ps) =>
      Explode.explodeLocalBatch(ps.map { case (id, schema, props, _) =>
        EntityPayload(id, schema, props) }, Dataset, origin, now).map(line)
    }

  private val mapper = new ObjectMapper()
  private def line(s: Statement): String = {
    val o = mapper.createObjectNode()
    o.put("id", s.id); o.put("entity_id", s.entity_id)
    o.put("schema", s.schema); o.put("bucket", s.bucket)
    o.put("origin", s.origin); o.put("prop", s.prop)
    o.put("prop_type", s.prop_type); o.put("value", s.value)
    o.put("first_seen", s.first_seen.toInstant.toString)
    o.put("last_seen", s.last_seen.toInstant.toString)
    o.put("fragment", s.fragment)
    mapper.writeValueAsString(o)
  }

  def payloads(es: Seq[Ent]): Seq[(String, String, Map[String, Seq[String]], String)] =
    es.flatMap(e => e.parts.map { case (o, p) => (e.id, e.schema, p, o) })
}

object LakeGen {
  val Dataset = "bench"
  val Origins: Vector[String] = Vector("registry_a", "leaks_b", "sanctions_c")
  val WriterCountry = "zz"
  val PageSize = 20

  /** One generated entity: its full property map and the origin
    * payloads it is imported as (their union is the full map). */
  final case class Ent(id: String, schema: String, props: Map[String, Seq[String]],
      parts: Seq[(String, Map[String, Seq[String]])])

  final case class Search(schema: String, filterProp: String, value: String,
      orderProp: String, offset: Int) {
    def rql: String = s"""and(eq(schema, "$schema"), eq($filterProp, "$value"))"""
  }

  /** Base import timestamps: first import, then the re-import a day later. */
  val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  val T1 = Timestamp.valueOf("2024-01-02 00:00:00")
  def cycleTs(i: Int): Timestamp = new Timestamp(T1.getTime + (i + 1) * 86400000L)
}
