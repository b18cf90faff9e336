package graft

import org.apache.spark.sql.{Column, GraftColumnBridge}

package object functions {

  /** The top 60 bits of md5(`c`) as a non-negative long — the value of
    * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`, computed
    * by the codegen'd [[Md5Prefix60]] kernel without the hex string,
    * the substring or the base conversion. `c` must be a string; NULL
    * in, NULL out.
    */
  def md5Prefix60(c: Column): Column =
    GraftColumnBridge.column(Md5Prefix60(GraftColumnBridge.expression(c)))
}
