"""Seeded HTTP/1.1 stub API for the etl_api_sequence workload.

One process, one asyncio thread: every connection is served from the same
event loop, so idle keep-alive connections never hold a handler thread.
Each response (status line, headers and body) leaves in one socket write
with TCP_NODELAY set, so the stub adds no Nagle or delayed-ACK stalls.

Routes come from a JSON file written by the generator: {"token": ...,
"routes": {path: body}}. `/auth/token` is open; every other route needs
`Authorization: Bearer <token>` and answers 401 without it.

Control routes (not logged): `/__reset` clears the request log, `/__log`
returns it as JSON rows [conn, arrival_s, finish_s, status, path, cpu_s]:
wall-clock arrival and finish, and the CPU time the stub itself spent
between them (the write syscall included, time spent descheduled not).

Usage: python3 stub.py ROUTES_JSON  (prints the bound port on stdout)
"""
import asyncio
import json
import os
import signal
import socket
import sys
import time


def response(status, body, reason):
    head = (f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: application/json\r\n"
            f"Content-Length: {len(body)}\r\n"
            "Connection: keep-alive\r\n\r\n").encode()
    return head + body


class Stub:
    def __init__(self, spec):
        self.token = spec["token"]
        self.routes = {p: response(200, b.encode(), "OK")
                       for p, b in spec["routes"].items()}
        self.unauthorized = response(401, b'{"error":"unauthorized"}', "Unauthorized")
        self.not_found = response(404, b'{"error":"not found"}', "Not Found")
        self.log = []
        self.next_conn = 0

    async def handle(self, reader, writer):
        sock = writer.get_extra_info("socket")
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn = self.next_conn
        self.next_conn += 1
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                method, target, _ = lines[0].split(" ", 2)
                headers = {}
                for line in lines[1:]:
                    if ":" in line:
                        k, v = line.split(":", 1)
                        headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", "0"))
                if n:
                    await reader.readexactly(n)
                arrival, cpu = time.perf_counter(), time.thread_time()
                path = target.split("?", 1)[0]
                if path == "/__reset":
                    self.log.clear()
                    out, status = response(200, b"{}", "OK"), None
                elif path == "/__log":
                    out, status = response(200, json.dumps(self.log).encode(), "OK"), None
                elif path != "/auth/token" and \
                        headers.get("authorization") != f"Bearer {self.token}":
                    out, status = self.unauthorized, 401
                else:
                    out = self.routes.get(path, self.not_found)
                    status = 200 if path in self.routes else 404
                writer.write(out)
                if writer.transport.get_write_buffer_size():
                    await writer.drain()
                if status is not None:
                    self.log.append([conn, arrival, time.perf_counter(), status, path,
                                     time.thread_time() - cpu])
                if headers.get("connection", "").lower() == "close":
                    break
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


async def main(spec_path):
    # The stub must not be what the program waits on: run it ahead of the
    # JVM's worker threads when the OS allows raising priority.
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -10)
    except OSError:
        pass
    with open(spec_path) as f:
        stub = Stub(json.load(f))
    server = await asyncio.start_server(stub.handle, "127.0.0.1", 0,
                                        limit=1 << 20, backlog=256)
    print(server.sockets[0].getsockname()[1], flush=True)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, stop.set)
    async with server:
        await stop.wait()


if __name__ == "__main__":
    asyncio.run(main(sys.argv[1]))
