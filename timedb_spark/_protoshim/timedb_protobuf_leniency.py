"""Same-major protobuf version leniency for PySpark's generated pb2 modules.

PySpark's generated ``StateMessage_pb2`` is built by a protoc one minor
ahead of the vendorable runtime (e.g. gencode 6.33 vs runtime 6.32), and
``ValidateProtobufRuntimeVersion`` rejects that formally even though the
generated code only uses the stable builder API. The leniency is SCOPED to
PySpark's pb2 modules via the proto-file ``location`` argument; every other
protobuf user in the process keeps the strict upstream check, and
cross-MAJOR mismatches still raise.

The one implementation: ``sitecustomize`` imports it at worker start-up,
``timedb_spark.streaming._proto_compat`` loads it by path in the driver.
It imports nothing from the package.
"""

#: proto-file location prefixes of PySpark-generated pb2 modules — the ONLY
#: gencode the lenient version check applies to.
LENIENT_PROTO_LOCATIONS = ("org/apache/spark/", "spark/connect/")


def patch_validator() -> None:
    """Wrap ``ValidateProtobufRuntimeVersion`` with the scoped leniency.
    A runtime older than protobuf 5.27 has no validator: nothing to patch
    (the pb2 probe then fails with its own precise error)."""
    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        return
    strict = rv.ValidateProtobufRuntimeVersion

    def lenient(domain, major, minor, patch, suffix, location):
        try:
            strict(domain, major, minor, patch, suffix, location)
        except rv.VersionError:
            if major != rv.MAJOR or not str(location).startswith(LENIENT_PROTO_LOCATIONS):
                raise

    rv.ValidateProtobufRuntimeVersion = lenient
