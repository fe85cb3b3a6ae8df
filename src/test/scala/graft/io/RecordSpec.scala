package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** Golden compatibility of the commit-record codec: one record per field
  * family exactly as the string-built serializer wrote it before
  * [[Record]] existed (captured from a run of that code).  Each must
  * decode to the fields its old per-field readers returned and re-encode
  * byte for byte — existing logs read unchanged, and new records keep
  * their shape. */
class RecordSpec extends AnyFunSuite {

  private def roundTrip(text: String, expected: Record): Unit = {
    val r = Record.decode(text)
    assert(r == expected)
    assert(r.encode == text)
  }

  test("a clustered append: stats, rows, bytes") {
    val (b0, b1) = ("data/4783dcf1-455a-4579-8306-69fc36951816/_b=0", "data/4783dcf1-455a-4579-8306-69fc36951816/_b=1")
    roundTrip("""{"version":1,"dirs":["data/4783dcf1-455a-4579-8306-69fc36951816/_b=0","data/4783dcf1-455a-4579-8306-69fc36951816/_b=1"],"ts":1792451952374,"op":"append","statsCol":"id","stats":{"data/4783dcf1-455a-4579-8306-69fc36951816/_b=0":[0,19],"data/4783dcf1-455a-4579-8306-69fc36951816/_b=1":[20,39]},"rows":{"data/4783dcf1-455a-4579-8306-69fc36951816/_b=0":20,"data/4783dcf1-455a-4579-8306-69fc36951816/_b=1":20},"bytes":{"data/4783dcf1-455a-4579-8306-69fc36951816/_b=0":851,"data/4783dcf1-455a-4579-8306-69fc36951816/_b=1":849}}""", Record(1, Seq(b0, b1), 1792451952374L,
      op = Some("append"), statsCol = Some("id"),
      stats = Map(b0 -> ((0L, 19L)), b1 -> ((20L, 39L))),
      rows = Some(Map(b0 -> 20L, b1 -> 20L)), bytes = Some(Map(b0 -> 851L, b1 -> 849L))))
  }

  test("statsCols + mstats, sums + sumsVoid") {
    val (d0, d1) = ("data/00e2f745-0170-4c6d-a698-d98bc078f20f", "data/a18f6e9b-344d-427a-966e-82092ca15808")
    roundTrip("""{"version":4,"dirs":["data/00e2f745-0170-4c6d-a698-d98bc078f20f","data/a18f6e9b-344d-427a-966e-82092ca15808"],"ts":1792451953848,"op":"declare","statsCols":"a,b","mstats":{"a|data/00e2f745-0170-4c6d-a698-d98bc078f20f":[1,2],"a|data/a18f6e9b-344d-427a-966e-82092ca15808":[3,3],"b|data/00e2f745-0170-4c6d-a698-d98bc078f20f":[10,20],"b|data/a18f6e9b-344d-427a-966e-82092ca15808":[30,30]},"rows":{"data/00e2f745-0170-4c6d-a698-d98bc078f20f":2,"data/a18f6e9b-344d-427a-966e-82092ca15808":1},"bytes":{"data/00e2f745-0170-4c6d-a698-d98bc078f20f":1897,"data/a18f6e9b-344d-427a-966e-82092ca15808":885},"sumCol":"m","sums":{"data/00e2f745-0170-4c6d-a698-d98bc078f20f":11},"sumsVoid":"data/a18f6e9b-344d-427a-966e-82092ca15808"}""", Record(4, Seq(d0, d1), 1792451953848L,
      op = Some("declare"), statsCols = Seq("a", "b"),
      mstats = Map(("a", d0) -> ((1L, 2L)), ("a", d1) -> ((3L, 3L)),
        ("b", d0) -> ((10L, 20L)), ("b", d1) -> ((30L, 30L))),
      rows = Some(Map(d0 -> 2L, d1 -> 1L)), bytes = Some(Map(d0 -> 1897L, d1 -> 885L)),
      sumCol = Some("m"), sums = Map(d0 -> 11L), sumsVoid = Set(d1)))
  }

  test("bloom") {
    val d = "data/ae23851a-aa92-4e39-9a42-c436afde7b73"
    roundTrip("""{"version":1,"dirs":["data/ae23851a-aa92-4e39-9a42-c436afde7b73"],"ts":1792451955312,"op":"append","rows":{"data/ae23851a-aa92-4e39-9a42-c436afde7b73":2},"bytes":{"data/ae23851a-aa92-4e39-9a42-c436afde7b73":1377},"bloomCol":"k","bloomBits":64,"bloom":{"data/ae23851a-aa92-4e39-9a42-c436afde7b73":"gBAABCAIAQA="}}""", Record(1, Seq(d), 1792451955312L,
      op = Some("append"), rows = Some(Map(d -> 2L)), bytes = Some(Map(d -> 1377L)),
      bloomCol = Some(("k", 64)), bloom = Map(d -> "gBAABCAIAQA=")))
  }

  test("alters: add, rename and drop") {
    val (d0, d1) = ("data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29", "data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8")
    roundTrip("""{"version":5,"dirs":["data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29","data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8"],"ts":1792451956138,"op":"alter","rows":{"data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29":1,"data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8":1},"bytes":{"data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29":920,"data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8":1154},"alters":{"q|bigint":"data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29","s>t|#rename":"data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29,data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8","z|#drop":"data/ee35b61b-e604-4f07-a23b-bcecb6fb0c29,data/f7068a7c-ca82-41b6-bb41-8479c59ff2e8"}}""", Record(5, Seq(d0, d1), 1792451956138L,
      op = Some("alter"), rows = Some(Map(d0 -> 1L, d1 -> 1L)),
      bytes = Some(Map(d0 -> 920L, d1 -> 1154L)),
      alters = Seq(("q", "bigint", Seq(d0)), ("s>t", "#rename", Seq(d0, d1)),
        ("z", "#drop", Seq(d0, d1)))))
  }

  test("checks + policy") {
    val d = "data/67cf63d9-0028-4c72-9d2b-c4599eeeb288"
    roundTrip("""{"version":3,"dirs":["data/67cf63d9-0028-4c72-9d2b-c4599eeeb288"],"ts":1792451956449,"op":"declare","rows":{"data/67cf63d9-0028-4c72-9d2b-c4599eeeb288":1},"bytes":{"data/67cf63d9-0028-4c72-9d2b-c4599eeeb288":710},"checks":{"m_pos":"m > 0","id_pos":"id > 0"},"policy":{"smallRows":10,"targetRows":100,"buckets":4,"maxCover":3,"maxDvFraction":0.25}}""", Record(3, Seq(d), 1792451956449L,
      op = Some("declare"), rows = Some(Map(d -> 1L)), bytes = Some(Map(d -> 710L)),
      checks = Seq("m_pos" -> "m > 0", "id_pos" -> "id > 0"),
      policy = Some(Versioned.MaintenancePolicy(10L, 100L, 4, 3, 0.25))))
  }

  test("deletion vectors") {
    val d = "data/5816ba1d-0a66-4684-85a2-9fd8dca6863a"
    roundTrip("""{"version":2,"dirs":["data/5816ba1d-0a66-4684-85a2-9fd8dca6863a"],"ts":1792451957506,"op":"delete","rows":{"data/5816ba1d-0a66-4684-85a2-9fd8dca6863a":10},"bytes":{"data/5816ba1d-0a66-4684-85a2-9fd8dca6863a":2928},"dv":{"data/5816ba1d-0a66-4684-85a2-9fd8dca6863a":"data/49409b2e-8162-4573-af75-890830897f7e"},"dvRows":{"data/5816ba1d-0a66-4684-85a2-9fd8dca6863a":3}}""", Record(2, Seq(d), 1792451957506L,
      op = Some("delete"), rows = Some(Map(d -> 10L)), bytes = Some(Map(d -> 2928L)),
      dv = Map(d -> Seq("data/49409b2e-8162-4573-af75-890830897f7e")),
      dvRows = Map(d -> 3L)))
  }

  test("the batchId fence") {
    val (d0, d1) = ("data/aee617ac-896a-465c-b2b4-8acad5cfa732", "data/5a3282fa-c9ea-4745-908c-24e01fed6310")
    roundTrip("""{"version":2,"dirs":["data/aee617ac-896a-465c-b2b4-8acad5cfa732","data/5a3282fa-c9ea-4745-908c-24e01fed6310"],"ts":1792451957965,"op":"stream-append","rows":{"data/aee617ac-896a-465c-b2b4-8acad5cfa732":1,"data/5a3282fa-c9ea-4745-908c-24e01fed6310":1},"bytes":{"data/aee617ac-896a-465c-b2b4-8acad5cfa732":710,"data/5a3282fa-c9ea-4745-908c-24e01fed6310":708},"batchId":42}""", Record(2, Seq(d0, d1), 1792451957965L,
      op = Some("stream-append"), rows = Some(Map(d0 -> 1L, d1 -> 1L)),
      bytes = Some(Map(d0 -> 710L, d1 -> 708L)), batchId = Some(42L)))
  }

  test("a catalog pins record") {
    roundTrip("""{"version":1,"dirs":[],"ts":1792451958714,"pins":{"a":1,"b":2}}""", Record(1, Seq.empty, 1792451958714L,
      pins = Map("a" -> 1, "b" -> 2)))
  }

  test("a branch rebase snapshot record") {
    val (d0, d1, d2) = ("/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=0", "/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=1", "/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/8b668cc1-fe24-4fe2-a569-3b71e5b42c1e")
    roundTrip("""{"version":3,"dirs":["/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=0","/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=1","/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/8b668cc1-fe24-4fe2-a569-3b71e5b42c1e"],"ts":1792451959867,"statsCol":"id","stats":{"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=0":[0,9],"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=1":[10,19],"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/8b668cc1-fe24-4fe2-a569-3b71e5b42c1e":[200,200]},"rows":{"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=0":10,"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=1":10,"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/8b668cc1-fe24-4fe2-a569-3b71e5b42c1e":1},"bytes":{"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=0":801,"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/baf17a41-5c62-4af9-b3c3-c11b793c0b08/_b=1":805,"/tmp/graft_probe/7ee9aa6a-5e6d-495b-8296-b2eddd93aae6/data/8b668cc1-fe24-4fe2-a569-3b71e5b42c1e":710},"rebaseSnap":true}""", Record(3, Seq(d0, d1, d2), 1792451959867L,
      statsCol = Some("id"),
      stats = Map(d0 -> ((0L, 9L)), d1 -> ((10L, 19L)), d2 -> ((200L, 200L))),
      rows = Some(Map(d0 -> 10L, d1 -> 10L, d2 -> 1L)),
      bytes = Some(Map(d0 -> 801L, d1 -> 805L, d2 -> 710L)), rebaseSnap = true))
  }

  test("names and expressions holding quotes and braces survive the codec") {
    val r = Record(2, Seq("data/x"), 5L, op = Some("alter"),
      alters = Seq(("s>s}x", "#rename", Seq("data/x"))),
      checks = Seq("statsCol" -> "s <> '}'", "op" -> "s <> '\"' AND s <> '\\\\'"))
    val text = r.encode
    assert(text.contains(""""checks":{"statsCol":"s <> '}'","op":"s <> '\"' AND s <> '\\\\'"}"""))
    assert(Record.decode(text) == r)
    assert(Record.decode(text).statsCol.isEmpty)
  }

  test("repeated alter keys stay separate events in commit order") {
    val text = """{"version":4,"dirs":["data/a"],"ts":9,"alters":{"x|bigint":"data/a",""" +
      """"x|#drop":"data/a","x|bigint":"data/a"}}"""
    val r = Record.decode(text)
    assert(r.alters.map(_._2) == Seq("bigint", "#drop", "bigint"))
    assert(r.encode == text)
  }

  test("a record without dirs or ts is malformed") {
    intercept[IllegalStateException](Record.decode("""{"version":1,"ts":5}"""))
    intercept[IllegalStateException](Record.decode("""{"version":1,"dirs":[]}"""))
  }
}
