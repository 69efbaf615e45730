package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Bcrypt pinned against vectors generated by libxcrypt (glibc crypt with
  * `$2b$`/`$2a$` prefixes) — NOT self-consistency: every expected string
  * below is the verbatim output of an independent implementation.
  */
class BcryptSpec extends AnyFunSuite {

  test("pi-derived Blowfish constants match the published table heads") {
    // First P entries of standard Blowfish (public constants: the hex
    // digits of pi): 0x243f6a88, 0x85a308d3, 0x13198a2e, 0x03707344.
    val w = Bcrypt.piWords(4)
    assert(w.toSeq == Seq(0x243f6a88, 0x85a308d3, 0x13198a2e, 0x03707344))
  }

  test("hashpw matches libxcrypt vectors") {
    val vectors = Seq(
      ("password", "$2b$04$abcdefghijklmnopqrstuv",
        "$2b$04$abcdefghijklmnopqrstuughE8Ev8uGFaUgY2cNEySvxngrb/Jzdm"),
      ("", "$2b$04$abcdefghijklmnopqrstuv",
        "$2b$04$abcdefghijklmnopqrstuubyCG3zY1GIXMyxfivm.ClDiInHzxjiq"),
      ("123", "$2b$06$nyplPatronSaltValue12u",
        "$2b$06$nyplPatronSaltValue12uSp20qFa1eUugdxjJNpY/074Nc/2TigW"),
      ("123_address1_city1_region1_postal_code1", "$2b$08$NYPLsaltNYPLsaltNYPLsa",
        "$2b$08$NYPLsaltNYPLsaltNYPLsOntYaoDcO01zSxGj6iS761KDq28qygcm"),
      ("patron_4567", "$2a$05$abcdefghijklmnopqrstuv",
        "$2a$05$abcdefghijklmnopqrstuuAoKKUg3c5sLTZ2fOILCvOwsmYxTaese"),
      ("ünïcodé-patron", "$2b$04$ZZZZZZZZZZZZZZZZZZZZZu",
        "$2b$04$ZZZZZZZZZZZZZZZZZZZZZuu3QZ8fuDvyXgCGN.tDWPo3nwEDXzfAu"))
    vectors.foreach { case (pw, salt, expected) =>
      assert(Bcrypt.hashpw(pw, salt) == expected, s"for password '$pw'")
    }
  }

  test("passwords are capped at 72 bytes (the $2b$ contract)") {
    val salt = "$2b$04$abcdefghijklmnopqrstuv"
    // libxcrypt: both yield ...uubzadhGtS2zEF.gu0yd0opP6cVzb.e0i
    val h72 = Bcrypt.hashpw("x" * 72, salt)
    assert(h72 == "$2b$04$abcdefghijklmnopqrstuubzadhGtS2zEF.gu0yd0opP6cVzb.e0i")
    assert(Bcrypt.hashpw("x" * 80, salt) == h72)
  }

  test("BcryptObfuscator returns the 31-char digest (nypl-py-utils form)") {
    val obf = new graft.pipeline.BcryptObfuscator("$2b$04$abcdefghijklmnopqrstuv")
    assert(obf.obfuscate("password") == "ghE8Ev8uGFaUgY2cNEySvxngrb/Jzdm")
    assert(obf.obfuscate("password").length == 31)
  }

  test("BcryptObfuscator rejects a missing or malformed BCRYPT_SALT when constructed") {
    Seq("", "abc").foreach { salt =>
      val e = intercept[IllegalArgumentException](new graft.pipeline.BcryptObfuscator(salt))
      assert(e.getMessage.contains("BCRYPT_SALT"), salt)
    }
  }

  test("malformed salts are rejected") {
    intercept[IllegalArgumentException](Bcrypt.hashpw("x", "$2c$04$abcdefghijklmnopqrstuv"))
    intercept[IllegalArgumentException](Bcrypt.hashpw("x", "$2b$99$abcdefghijklmnopqrstuv"))
    intercept[IllegalArgumentException](Bcrypt.hashpw("x", "not-a-salt"))
  }
}
