package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

package perfbench {

  /** Access to the driver's listener bus, which Spark keeps
    * package-private. The traced run drains it after every op so each
    * op's job, task and streaming-progress events are attributed to that
    * op and no other. */
  object Bus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package sql {
  package perfbench {

    /** A frame over the rows an executed physical plan produced, so the
      * output check writes exactly what the timed action computes. */
    object Frames {
      def ofRows(spark: SparkSession, rows: RDD[InternalRow],
          schema: StructType): DataFrame =
        spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
    }
  }
}
