"""CLI entrypoint — the analog of the reference binary's main()
(/root/reference/src/main.rs:24-138).

    python -m oanda_stream_processor_spark --replay capture.ndjson -v \
        [--publish tcp://*:9500 | --publish-file out.bin] [--parquet dir]

Config resolves from the environment exactly like the reference
(config.py: OANDA_AUTH_TOKEN/ACCOUNT_ID required for live mode,
instruments/environment/publisher-address defaulted). Live HTTP mode is
gated on network availability (sources/http_stream.py); replay mode
drives the identical pipeline from an NDJSON capture.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="oanda_stream_processor_spark")
    ap.add_argument("--replay", metavar="PATH",
                    help="NDJSON capture file/dir to replay as the stream")
    ap.add_argument("--live", action="store_true",
                    help="connect to the OANDA pricing stream (needs network)")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print formatted messages to the console (K1)")
    edge = ap.add_mutually_exclusive_group()
    edge.add_argument("--publish", metavar="ZMQ_ADDR", nargs="?",
                      const="env", help="publish protobuf messages on a ZMQ "
                      "PUB socket (default addr from ZMQ_PUBLISHER_ADDRESS)")
    edge.add_argument("--publish-file", metavar="PATH",
                      help="publish length-prefixed protobuf frames to a file")
    ap.add_argument("--parquet", metavar="DIR", help="durable parquet sink "
                    "(read back, rows carry a batch_id column)")
    ap.add_argument("--checkpoint", metavar="DIR", default=None)
    args = ap.parse_args(argv)

    if args.live:
        from .config import Config
        Config.from_env()  # fail fast with the reference's error UX
        print("live HTTP mode requires network + the requests package; "
              "use --replay with a capture file", file=sys.stderr)
        return 2
    if not args.replay:
        ap.error("one of --replay PATH or --live is required")
    if not (args.verbose or args.publish or args.publish_file
            or args.parquet):
        ap.error("no sinks selected; pass -v, --publish[-file], or --parquet")

    from .session import get_spark
    from .streaming import sinks
    from .streaming.listener import PipelineListener, configure_logging
    from .streaming.pipeline import install_shutdown_handlers, run_pipeline

    configure_logging()
    spark = get_spark(app_name="oanda_stream_processor_spark")
    listener = PipelineListener()
    spark.streams.addListener(listener)

    publisher = None
    if args.publish:
        from .config import Config
        addr = (Config.from_env().zmq_publisher_address
                if args.publish == "env" else args.publish)
        publisher = sinks.ZmqPublisher(addr)
    elif args.publish_file:
        publisher = sinks.FilePublisher(args.publish_file)

    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="osp_ckpt_")
    handles = run_pipeline(spark, args.replay,
                           checkpoint_dir=checkpoint,
                           publisher=publisher,
                           verbose=args.verbose,
                           parquet_out=args.parquet)
    install_shutdown_handlers(handles)
    handles.process_all_available()
    handles.stop()
    # let the listener bus drain termination events while the py4j
    # gateway is still alive, then unregister — otherwise the callback
    # races interpreter teardown and prints a spurious
    # Py4JNetworkException traceback on exit
    time.sleep(0.5)
    spark.streams.removeListener(listener)
    return 0


if __name__ == "__main__":
    sys.exit(main())
