package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.inat.Inat

/** Small in-memory iNat source frames with the source schemas. Each
  * edge case is named where its rows are built.
  */
trait InatFixture extends SparkSpec {

  def frame(table: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Inat.schemas(table))

  def photo(id: Integer, obs: String, observer: Int, ext: String,
      license: String) =
    Row(s"uuid-$id-$ext", id, obs, observer, ext, license, 640, 480, 0)

  def taxon(id: Integer, ancestry: String, name: String) =
    Row(id, ancestry, 10.0, "species", name, true)

  lazy val photos = frame("photos", Seq(
    photo(1, "o1", 1, "jpeg", "CC-BY"),          // jpeg -> jpg
    photo(2, "o1", 1, "png", "CC0"),             // repeated photo_id:
    photo(2, "o1", 1, "png", "CC0"),             //   both dropped
    photo(null, "o1", 1, "png", "CC-BY-NC"),     // null photo_ids: kept,
    photo(null, "o2", 2, "jpg", "PD"),           //   however many
    photo(5, "o1", 1, "jpg", "ALL-RIGHTS"),      // unknown license: dropped
    photo(6, "o2", 2, "JPEG", "GFDL"),           // upper-case JPEG -> jpg
    photo(7, "o3", 1, "png", "CC-BY-SA"),        // taxon with 25 ancestors
    photo(8, "o4", 2, "jpg", "CC-BY-NC-ND")))    // taxon with null ancestry

  lazy val observations = frame("observations", Seq(
    Row("o1", 1, null, null, 10, 2, "research", null),
    Row("o2", 2, null, null, 10, 3, "research", null),
    Row("o3", 1, null, null, 10, 200, "research", null),
    Row("o4", 2, null, null, 10, 1, "research", null)))

  // observer 2 has no name: creator falls back to the login
  lazy val observers = frame("observers",
    Seq(Row(1, "ann", "Ann A"), Row(2, "bob", null)))

  lazy val chain = (101 to 125).map(i => taxon(i, "1", s"A$i"))

  lazy val taxa = frame("taxa", Seq(
    taxon(1, null, "Life"),                      // null ancestry: no tags
    taxon(2, "1", "Animalia"),
    taxon(3, "1/999/2", "Chordata"),             // 999 is not a taxon
    taxon(200, (101 to 125).mkString("/"), "Deep")) ++ chain)
}

/** `Inat.transform` and `Inat.taxaEnriched` on [[InatFixture]],
  * asserting the exact output rows.
  */
class InatTransformSpec extends InatFixture {

  private val first20 = (101 to 120).map(i => s"A$i")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).sortBy(_.mkString("|"))

  test("transform emits exactly the expected catalog records") {
    val recs = Inat.transform(photos, observations, observers, taxa)
    assert(recs.columns.toSeq == Seq("foreign_identifier",
      "foreign_landing_url", "url", "creator", "title", "tags", "license",
      "license_version", "width", "height", "quality_grade", "provider"))
    def rec(id: String, ext: String, creator: String, title: String,
        tags: List[String], license: String, version: String): Seq[Any] =
      Seq(id,
        Option(id).map("https://www.inaturalist.org/photos/" + _).orNull,
        Option(id).map(i =>
          s"https://inaturalist-open-data.s3.amazonaws.com/photos/$i/original.$ext")
          .orNull,
        creator, title, tags, license, version, 640, 480, "research",
        "inaturalist")
    val expected = Seq(
      rec("1", "jpg", "Ann A", "Animalia", List("Life"), "by", "4.0"),
      rec("6", "jpg", "bob", "Chordata", List("Life", "Animalia"), "gfdl", "1.3"),
      rec("7", "png", "Ann A", "Deep", first20.toList, "by-sa", "4.0"),
      rec("8", "jpg", "bob", "Life", Nil, "by-nc-nd", "4.0"),
      rec(null, "png", "Ann A", "Animalia", List("Life"), "by-nc", "4.0"),
      rec(null, "jpg", "bob", "Chordata", List("Life", "Animalia"), "pdm", "1.0"))
      .sortBy(_.mkString("|"))
    assert(rows(recs) == expected)
  }

  test("taxaEnriched: root-first tags capped at 20, one row per taxa row") {
    val got = rows(Inat.taxaEnriched(taxa))
    val expected = (Seq(
      Seq(1, "Life", "species", Nil),
      Seq(2, "Animalia", "species", List("Life")),
      Seq(3, "Chordata", "species", List("Life", "Animalia")),
      Seq(200, "Deep", "species", first20.toList)) ++
      (101 to 125).map(i => Seq(i, s"A$i", "species", List("Life"))))
      .sortBy(_.mkString("|"))
    assert(got == expected)
  }

  test("taxaEnriched keeps duplicate and null taxon_id rows") {
    // rows sharing a taxon_id share one tag list gathered from all their
    // ancestries (sorted by path position, then name); a null taxon_id
    // gets no tags; identical rows both survive
    val dup = frame("taxa", Seq(
      taxon(1, null, "Life"), taxon(2, "1", "Animalia"),
      taxon(3, "1", "Chordata"), taxon(3, "2", "Chordata"),
      taxon(3, "1", "Other"),
      taxon(null, "1/2", "NoId"), taxon(null, "1/2", "NoId")))
    val tags3 = List("Animalia", "Life", "Life")
    val expected = Seq(
      Seq(1, "Life", "species", Nil),
      Seq(2, "Animalia", "species", List("Life")),
      Seq(3, "Chordata", "species", tags3),
      Seq(3, "Chordata", "species", tags3),
      Seq(3, "Other", "species", tags3),
      Seq(null, "NoId", "species", Nil),
      Seq(null, "NoId", "species", Nil)).sortBy(_.mkString("|"))
    assert(rows(Inat.taxaEnriched(dup)) == expected)
  }
}
