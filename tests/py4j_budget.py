"""Count the py4j method calls a block of driver code sends to the JVM.

Only method-call commands (``c\\n...``) are counted: the total command
count also carries py4j's garbage-collection traffic for proxies the
Python side dropped, which varies from run to run with the collector.
"""

from __future__ import annotations

from contextlib import contextmanager
from types import SimpleNamespace

from py4j.clientserver import ClientServerConnection


@contextmanager
def py4j_method_calls():
    """Yield a counter whose ``calls`` is the number of py4j method calls
    sent inside the block (read it after the block)."""
    count = SimpleNamespace(calls=0)
    send = ClientServerConnection.send_command

    def counting_send(self, command, *args, **kwargs):
        if command.startswith("c\n"):
            count.calls += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting_send
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send
