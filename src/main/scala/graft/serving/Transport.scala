package graft.serving

import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandler, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, ChannelOption, EventLoopGroup, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioServerSocketChannel

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The Netty plumbing the serving transports share: each server owns one
  * NIO event-loop group, and each of its ports is one loopback listener
  * whose accepted channels get that port's pipeline. */
private[serving] object Transport {

  /** Daemon threads that inherit no thread locals: a Spark local property
    * set on the thread that builds a server (a job group, a scheduler pool)
    * must not follow into the jobs its handler threads submit. */
  def threads(prefix: String): ThreadFactory = {
    val n = new AtomicInteger
    (r: Runnable) => {
      val t = new Thread(null, r, s"$prefix-${n.incrementAndGet()}", 0, false)
      t.setDaemon(true)
      t
    }
  }

  def eventLoops(prefix: String): EventLoopGroup =
    new MultiThreadIoEventLoopGroup(2, threads(prefix), NioIoHandler.newFactory())

  /** The last handler of every pipeline: an error that reaches it (a peer
    * reset, a malformed frame) ends that connection quietly. */
  val CloseOnError: ChannelHandler = new ChannelInboundHandlerAdapter {
    override def isSharable: Boolean = true
    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close(): Unit
  }

  /** Binds a loopback listener on `port` (0 = ephemeral). It accepts no
    * connection until [[accept]] is called, so a server takes traffic from
    * `start()`, not from construction. */
  def listen(group: EventLoopGroup, port: Int)(pipeline: Channel => Unit): Channel =
    new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .option(ChannelOption.AUTO_READ, java.lang.Boolean.FALSE)
      .childOption(ChannelOption.TCP_NODELAY, java.lang.Boolean.TRUE)
      .childHandler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit = {
          pipeline(ch)
          ch.pipeline.addLast(CloseOnError): Unit
        }
      })
      .bind(InetAddress.getLoopbackAddress, port)
      .syncUninterruptibly()
      .channel()

  def accept(listener: Channel): Unit = listener.config.setAutoRead(true): Unit

  def portOf(listener: Channel): Int =
    listener.localAddress.asInstanceOf[InetSocketAddress].getPort

  /** Closes the group's listeners and every connection they accepted, and
    * waits for its threads to finish. */
  def shutdown(group: EventLoopGroup): Unit =
    group.shutdownGracefully(0, 5, TimeUnit.SECONDS).syncUninterruptibly(): Unit
}
