package graft.pipeline

/** PII obfuscation (reference F1: bcrypt with an env salt via
  * nypl-py-utils `obfuscate`, applied at lib/pipeline_controller.py:195-197,
  * 289-291, 359-364). Deterministic keyed hash: equal plaintexts must map
  * to equal ciphertexts across runs, or the warehouse joins (J3/J4/J5)
  * break.
  *
  * [[BcryptObfuscator]] is the one production implementation (pure-JVM
  * bcrypt, verified against libxcrypt vectors — graft.functions.Bcrypt).
  * Parallelism note: the reference fans obfuscation over a
  * ThreadPoolExecutor; here partition parallelism does the same job with
  * zero extra code.
  */
trait Obfuscator extends Serializable {
  def obfuscate(plaintext: String): String
}

/** Byte-parity with the reference's nypl-py-utils `obfuscate`:
  * `bcrypt.hashpw(plaintext, BCRYPT_SALT)` with the 29-char
  * `$2b$NN$<salt>` prefix stripped, keeping the 31-char digest — the form
  * stored in the warehouse. `salt` is the full env-provided salt string.
  */
final class BcryptObfuscator(salt: String) extends Obfuscator {
  // checked here, on the driver, so a missing or malformed salt fails the
  // launch instead of the first executor task
  try graft.functions.Bcrypt.checkSalt(salt)
  catch { case e: IllegalArgumentException =>
    throw new IllegalArgumentException(
      s"BCRYPT_SALT must be a $$2b$$NN$$ bcrypt salt: ${e.getMessage}", e)
  }

  override def obfuscate(plaintext: String): String =
    graft.functions.Bcrypt.hashpw(plaintext, salt).substring(29)
}

/** Test double: fixed plaintext→ciphertext map (mirrors the reference
  * tests' mocked `obfuscate` side_effect lists).
  */
final class MapObfuscator(mapping: Map[String, String]) extends Obfuscator {
  override def obfuscate(plaintext: String): String =
    mapping.getOrElse(plaintext, s"obf($plaintext)")
}
