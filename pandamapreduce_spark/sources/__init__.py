"""Sources & sinks beyond parquet: csv/json/orc/xml/text readers+writers
(schema-explicit — no inference in production paths), partitioned
writes, and the splittable fixed-width tera record reader
(``sources.tera_source``, reached through
``Engine.read_tera_records_split``).

The reference's IO surface is chunked byte buffers in, raw
file/stdout out (SURVEY §1.1 O1-O3, O17); this module is the
generalized, format-aware replacement. Delta/Iceberg/Hudi need jars
not present in this image — stubbed behind import guards.
"""

from pandamapreduce_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    read_xml,
    write_csv,
    write_json,
    write_orc,
    write_xml,
    try_delta,
)

__all__ = ["read_csv", "read_json", "read_orc", "read_xml", "write_csv", "write_json", "write_orc", "write_xml", "try_delta"]
