"""Structured Streaming + stateful operators (SURVEY.md §2.9) — the
reference-domain core: event-time windows, watermarks, streaming joins,
dedup, and per-key mutable state across micro-batches.

Every registered query here *actually executes* a streaming pipeline
(chunked file feed → ``trigger(availableNow=True)`` → memory sink or the
key's own sink), started by ``runner.run_stream`` — the one place a stream
starts — so the driver's oracle check validates real streaming execution,
not a batch stand-in. The batch-SQL oracles encode the prefix-consistency guarantee of
the Structured Streaming model (SIGMOD 2018): a stream fully consumed must
equal the batch query over the same data.
"""
